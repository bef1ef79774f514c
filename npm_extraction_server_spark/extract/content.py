"""Main-content extraction (boilerplate removal) for crawled pages.

The text-density heuristic from the public jusText / Boilerpipe line
of work: split the page into blocks at closing block-level tags, strip
markup per block, and classify a block as CONTENT when it has enough
plain text and a low enough link density (navigation chrome is made
of links; prose is not). Scripts/styles are removed outright first.

Everything is whole-stage codegen — ``regexp_replace`` + ``split`` +
higher-order array functions over column literals; the html bytes
never enter a Python worker, which is what makes this viable as the
first stage of a 100 TB corpus-cleaning pipeline (map-only over the
page scan, column-pruned to the html bytes, embarrassingly parallel;
the expensive downstream stages — dedup, quality, tokenize — then run
on the much smaller extracted text).

The engine's synthetic page substrate doubles as a hard correctness
gate: on those pages the classifier must recover the ``<article>``
prose EXACTLY (nav footers are pure links, microdata stubs are below
the length floor, scripts are stripped), so the driver oracle is the
byte-identity check ``main_text == text`` — the north-rule invariant
verified THROUGH a real boilerplate remover.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["extract_main_content"]

# script/style elements vanish before block segmentation (their body
# is code, not text; (?s) because blobs may span lines)
_STRIP_RE = r"(?is)<(script|style)[^>]*>.*?</\1>"
# block boundaries: closing tags of block-level elements
_BLOCK_SPLIT_RE = r"(?i)</(?:p|div|article|section|nav|aside|header|footer|li|ul|ol|table|title|h[1-6]|blockquote|pre)>"
# anchor bodies (for link-density) and tags (for plain text)
_ANCHOR_BODY_RE = r"(?is)<a[^>]*>(.*?)</a>"
_TAG_RE = r"<[^>]*>"


def extract_main_content(pages: DataFrame, min_len: int = 25,
                         max_link_density: float = 1 / 3) -> DataFrame:
    """Append (main_text, n_blocks, n_content_blocks) to ``pages``,
    read from its ``html`` column (string or UTF-8 binary).

    A block is content iff its tag-stripped text is at least
    ``min_len`` chars AND the fraction of those chars living inside
    ``<a>`` elements is at most ``max_link_density``. ``main_text``
    is the concatenation of the content blocks' plain text in page
    order (no separator — block boundaries already came from markup).
    """
    h = F.decode(F.col("html"), "UTF-8") \
        if dict(pages.dtypes)["html"] == "binary" else F.col("html")
    stripped = F.regexp_replace(h, _STRIP_RE, "")
    blocks = F.split(stripped, _BLOCK_SPLIT_RE)

    def plain(b):
        return F.trim(F.regexp_replace(b, _TAG_RE, ""))

    def link_len(b):
        return F.aggregate(
            F.transform(F.regexp_extract_all(b, F.lit(_ANCHOR_BODY_RE), 1),
                        lambda a: F.length(F.regexp_replace(a, _TAG_RE, ""))),
            F.lit(0), lambda acc, x: acc + x)

    def is_content(b):
        p = plain(b)
        return (F.length(p) >= min_len) & (
            link_len(b).cast("double")
            <= F.lit(float(max_link_density)) * F.length(p))

    kept = F.filter(blocks, is_content)
    nonempty = F.filter(blocks, lambda b: F.length(plain(b)) > 0)
    return pages.withColumns({
        "main_text": F.array_join(F.transform(kept, plain), ""),
        "n_blocks": F.size(nonempty),
        "n_content_blocks": F.size(kept),
    })
