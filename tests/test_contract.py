"""The driver contract: queries() / oracle_sql() as read from the
@query registry. No Spark session needed."""

import pytest

import __spark_entry__ as entry


@pytest.fixture(scope="module")
def queries():
    return entry.queries()


def test_queries_count_and_curated_head(queries):
    # a name registered twice shows up as 288; a misspelt _PRIORITY
    # entry raises KeyError inside queries()
    assert len(queries) == 289
    assert list(queries)[:50] == entry._PRIORITY


def test_oracles_are_a_subset_of_queries(queries):
    oracles = entry.oracle_sql()
    assert len(oracles) == 278
    assert set(oracles) <= set(queries)


def test_rows_only_set(queries):
    # kg_pipeline_triples / kg_lineage and the custom stateful ops are
    # non-SQL-expressible -> rows-only (the minhash / simhash / LSH /
    # IVF ones depend on xxhash64 and hyperplane seeds;
    # mm_media_features: DuckDB
    # core sha256 only hashes VARCHAR, not the binary payloads). Every
    # rows-only query has a hard-oracle SIBLING exercising the same
    # code path: kg_pipeline_triples/kg_lineage -> kg_triples_doap,
    # dedup_minhash -> dedup_minhash_verified, dedup_simhash ->
    # dedup_simhash_verified, sim_lsh_topk -> sim_lsh_verified,
    # sim_ivf_topk -> sim_ivf_verified, kg_entity_linking (J7 CC) ->
    # graph_components, mm_media_features -> mm_audio_features.
    # kg_user_index and semver_resolve HAVE hard oracles: the synthetic
    # corpus is a pure function of doc_id (sources/synth.py), so DuckDB
    # re-derives the expected output from documents.doc_id alone.
    assert set(queries) - set(entry.oracle_sql()) == {
        "dedup_minhash", "dedup_simhash", "dedup_simhash_report",
        "sim_ivf_topk", "sim_ivfpq_recall", "sim_lsh_topk",
        "text_bpe_train", "kg_entity_linking", "kg_lineage",
        "kg_pipeline_triples", "mm_media_features"}


def test_registered_name_is_function_name(queries):
    from npm_extraction_server_spark.operators.registry import SPARK_QUERIES

    assert all(fn.__name__ == name for name, fn in SPARK_QUERIES.items())


def test_query_scratch_root_removed_at_exit(tmp_path):
    """Directories a query writes its tables into live under one
    per-process root, which is gone once the process exits."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    code = ("from npm_extraction_server_spark.operators.suite import "
            "_scratch\n"
            "a, b = _scratch('snaptab_'), _scratch('warcq_')\n"
            "open(a + '/f.parquet', 'w').write('x')\n"
            "print(a); print(b)\n")
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, check=True,
        capture_output=True, text=True,
        env={**os.environ, "TMPDIR": str(tmp_path)}).stdout.split()
    a, b = Path(out[0]), Path(out[1])
    assert a.parent == b.parent and a.parent.parent == tmp_path
    assert not a.parent.exists()
    assert list(tmp_path.iterdir()) == []
