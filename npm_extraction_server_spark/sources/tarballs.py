"""SC9/SC10 as Spark operators: tarballs are opaque binary blobs in a
(tar_id, payload) table (e.g. a ``binaryFile`` scan of on-disk .tgz, or
any table with a binary payload); extraction / path-resolve /
component-BFS run as Arrow-batched ``mapInPandas`` stages — one tarball
is always local to one row, so the walk is embarrassingly parallel with
zero shuffle.

Reference: /root/reference/lib/util/Tarball.js (download+extract+
resolve) and /root/reference/lib/npm/NpmModule.js:216-250 (the lsd
component BFS). The download step is replaced by the binaryFile scan —
on a cluster the blobs live next to the metadata in the lake instead of
being fetched per request.
"""

from __future__ import annotations

import hashlib
import json
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MEMBER_SCHEMA = T.StructType([
    T.StructField("tar_id", T.StringType(), False),
    T.StructField("member_path", T.StringType(), False),
    T.StructField("n_bytes", T.LongType(), True),
    T.StructField("sha", T.StringType(), True),
])

RESOLVE_SCHEMA = T.StructType([
    T.StructField("tar_id", T.StringType(), False),
    T.StructField("path", T.StringType(), False),
    T.StructField("found", T.BooleanType(), False),
    T.StructField("content", T.BinaryType(), True),
])

COMPONENT_SCHEMA = T.StructType([
    T.StructField("tar_id", T.StringType(), False),
    T.StructField("component_json", T.StringType(), False),
])


def _walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from ..functions.tarball import try_extract_tar

    cols = [f.name for f in MEMBER_SCHEMA.fields]
    for pdf in batches:
        rows = []
        for tid, blob in zip(pdf["tar_id"], pdf["payload"]):
            tree = try_extract_tar(bytes(blob))
            if tree is None:  # corrupt archive: zero members, task lives
                continue
            stack = [("", tree)]
            while stack:
                prefix, node = stack.pop()
                for name, val in node.items():
                    p = f"{prefix}/{name}" if prefix else name
                    if isinstance(val, dict):
                        stack.append((p, val))
                    else:
                        rows.append((str(tid), p, len(val),
                                     hashlib.sha256(val).hexdigest()))
        yield pd.DataFrame(rows, columns=cols)


def tarball_members(tarballs: DataFrame) -> DataFrame:
    """SC9: one row per extracted FILE member (dirs skipped, like the
    reference's trailing-'/' skip)."""
    return tarballs.select("tar_id", "payload").mapInPandas(
        _walk, schema=MEMBER_SCHEMA)


def resolve_tar_paths(tarballs: DataFrame, paths: list[str]) -> DataFrame:
    """SC10: Tarball.resolvePath for each requested path against each
    tarball; missing paths -> found=false (the reference's catch)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.tarball import resolve_path, try_extract_tar

        cols = [f.name for f in RESOLVE_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for tid, blob in zip(pdf["tar_id"], pdf["payload"]):
                tree = try_extract_tar(bytes(blob))
                if tree is None:  # corrupt archive -> found=false rows
                    rows.extend((str(tid), p, False, None) for p in paths)
                    continue
                for p in paths:
                    try:
                        content = resolve_path(p, tree)
                        rows.append((str(tid), p, True, content))
                    except KeyError:
                        rows.append((str(tid), p, False, None))
            yield pd.DataFrame(rows, columns=cols)

    return tarballs.select("tar_id", "payload").mapInPandas(
        fn, schema=RESOLVE_SCHEMA)


def lsd_component_closure(tarballs: DataFrame) -> DataFrame:
    """The server-mode lsd BFS (NpmModule.js:216-243) per tarball:
    follow JSON-LD 'import' edges from ``components.jsonld``, emit one
    row per collected component (with the importer's @context
    attached, serialized with sorted keys for deterministic
    comparison)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.tarball import component_closure, try_extract_tar

        cols = [f.name for f in COMPONENT_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for tid, blob in zip(pdf["tar_id"], pdf["payload"]):
                tree = try_extract_tar(bytes(blob))
                if tree is None:
                    continue
                try:
                    comps = component_closure("components.jsonld", tree)
                except KeyError:
                    comps = []
                for c in comps:
                    rows.append((str(tid), json.dumps(
                        c, separators=(",", ":"), sort_keys=True)))
            yield pd.DataFrame(rows, columns=cols)

    return tarballs.select("tar_id", "payload").mapInPandas(
        fn, schema=COMPONENT_SCHEMA)


def synth_tarballs(spark: SparkSession, n: int = 20) -> DataFrame:
    """Deterministic npm-style .tgz corpus: everything under 'package/',
    a package.json + a components.jsonld importing 'sub/extra.jsonld'
    (exercising the relative-import BFS), bodies pure functions of the
    id — so an external oracle can re-derive every member analytically."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import gzip as gz
        import io
        import tarfile

        def build(i: int) -> bytes:
            files = {
                "package/package.json": json.dumps(
                    {"name": f"pkg-{i}", "version": f"1.0.{i % 10}"},
                    separators=(",", ":")),
                "package/components.jsonld": json.dumps(
                    {"@context": f"http://example.org/ctx/{i}",
                     "import": ["sub/extra.jsonld"],
                     "components": [{"@id": f"http://example.org/c/{i}/main"}]},
                    separators=(",", ":")),
                "package/sub/extra.jsonld": json.dumps(
                    {"@context": f"http://example.org/ctx/{i}/sub",
                     "components": [{"@id": f"http://example.org/c/{i}/extra"}]},
                    separators=(",", ":")),
            }
            buf = io.BytesIO()
            with tarfile.open(fileobj=buf, mode="w:") as tf:
                for name, body in files.items():
                    data = body.encode()
                    info = tarfile.TarInfo(name)
                    info.size = len(data)
                    info.mtime = 0
                    tf.addfile(info, io.BytesIO(data))
            return gz.compress(buf.getvalue(), mtime=0)

        for pdf in batches:
            rows = [(f"tar-{int(i)}", build(int(i))) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=["tar_id", "payload"])

    return spark.range(n).mapInPandas(gen, schema="tar_id string, payload binary")
