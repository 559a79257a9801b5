"""HTML main-content extraction + boilerplate removal (stdlib-only).

The reference's extraction dispatch stops at pdf/txt/docx/md/images
(``services/text_extraction.py:13-27``) — it has no HTML path. A web-scale
training corpus, however, *starts* from HTML: C4, CCNet and RefinedWeb all
open with main-content extraction (boilerplate removal) over crawled pages.
This module supplies that operator Spark-first:

* a stdlib ``html.parser`` block segmenter (no bs4/lxml in the container)
  that splits a page into text blocks annotated with ancestry
  (nav/header/footer/aside vs article/main) and per-block link density;
* a deterministic jusText/Arc90-style classifier over those blocks —
  semantic boilerplate containers are dropped, semantic content containers
  are kept, and undeclared blocks are kept iff they are long enough and not
  link-dense (the two signals every published boilerplate remover agrees
  on: text length and link density);
* an Arrow-batched ``mapInPandas`` wrapper — one Python pass per page, no
  shuffle, no driver state, so the operator scales linearly with the
  corpus exactly like the PDF/DOCX kernels in ``operators/extraction.py``.

The classifier is intentionally small and fully deterministic so the
catalog queries can oracle it: ``html_extract_main`` round-trips synthetic
pages (docgen wraps every document in realistic chrome), and
``html_fixture_boilerplate`` pins golden main text for hand-written messy
pages where the density rules — not the semantic tags — do the work.
"""

from __future__ import annotations

from html.parser import HTMLParser

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from frappe_data_pipelines_spark.operators import kernel

# Tags whose subtree is never text content.
DROP_TAGS = {"script", "style", "noscript", "template", "svg", "head", "iframe"}
# Tags that delimit text blocks (a new one flushes the current block).
BLOCK_TAGS = {
    "p", "div", "li", "ul", "ol", "h1", "h2", "h3", "h4", "h5", "h6",
    "td", "th", "tr", "table", "pre", "blockquote", "article", "section",
    "main", "nav", "header", "footer", "aside", "form", "figcaption",
    "dd", "dt", "body", "menu",
}
# Semantic boilerplate containers: anything inside is chrome, not content.
BOILER_CONTAINERS = {"nav", "header", "footer", "aside", "form", "menu"}
# Semantic content containers: anything inside is content, even if short.
CONTENT_CONTAINERS = {"article", "main"}

# Density rules for blocks under neither container kind (the jusText/Arc90
# core): a block is content iff it is at least MIN_CONTENT_CHARS long and at
# most MAX_LINK_DENSITY of its characters sit inside <a>.
MIN_CONTENT_CHARS = 25
MAX_LINK_DENSITY = 1.0 / 3.0


class _BlockParser(HTMLParser):
    """Segment a page into text blocks with ancestry + link annotations.

    Tolerant by construction: ``html.parser`` never raises on malformed
    markup, close-tag bookkeeping is clamped at zero, and unknown tags are
    treated as inline. ``convert_charrefs=True`` resolves entities inline.
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[dict] = []
        self._runs: list[tuple[str, bool]] = []  # (text, inside <a>)
        self._block_tag = "body"
        self._drop = 0  # depth inside DROP_TAGS
        self._link = 0  # depth inside <a>
        self._boiler = 0  # depth inside BOILER_CONTAINERS
        self._content = 0  # depth inside CONTENT_CONTAINERS
        self._block_boiler = False
        self._block_content = False

    # -- block lifecycle ----------------------------------------------------
    def _flush(self) -> None:
        if not self._runs:
            return
        raw = "".join(t for t, _ in self._runs)
        # HTML whitespace collapse, per line (<br> inserts '\n'):
        lines = [" ".join(line.split()) for line in raw.split("\n")]
        text = "\n".join(lines).strip("\n")
        link_chars = sum(
            len(" ".join(t.split())) for t, in_a in self._runs if in_a
        )
        self._runs = []
        if not text.strip():
            return
        self.blocks.append(
            {
                "tag": self._block_tag,
                "text": text,
                "chars": len(text),
                "link_chars": min(link_chars, len(text)),
                "boiler": self._block_boiler,
                "content": self._block_content,
            }
        )

    def _enter_block(self, tag: str) -> None:
        self._flush()
        self._block_tag = tag
        self._block_boiler = self._boiler > 0
        self._block_content = self._content > 0

    # -- parser callbacks ---------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in DROP_TAGS:
            self._drop += 1
            return
        if tag == "br":
            self._runs.append(("\n", self._link > 0))
            return
        if tag in BLOCK_TAGS:
            self._enter_block(tag)
        if tag in BOILER_CONTAINERS:
            self._boiler += 1
            self._block_boiler = True
        if tag in CONTENT_CONTAINERS:
            self._content += 1
            self._block_content = True
        if tag == "a":
            self._link += 1

    def handle_startendtag(self, tag: str, attrs) -> None:
        if tag == "br":
            self._runs.append(("\n", self._link > 0))

    def handle_endtag(self, tag: str) -> None:
        if tag in DROP_TAGS:
            self._drop = max(0, self._drop - 1)
            return
        if tag in BLOCK_TAGS:
            self._flush()
            self._block_tag = "body"
        if tag in BOILER_CONTAINERS:
            self._boiler = max(0, self._boiler - 1)
        if tag in CONTENT_CONTAINERS:
            self._content = max(0, self._content - 1)
        if tag == "a":
            self._link = max(0, self._link - 1)
        # re-derive flags for text following the close
        self._block_boiler = self._boiler > 0
        self._block_content = self._content > 0

    def handle_data(self, data: str) -> None:
        if self._drop == 0 and data:
            self._runs.append((data, self._link > 0))

    def close(self) -> None:
        super().close()
        self._flush()


def parse_blocks(html: str) -> list[dict]:
    """Page → ordered text blocks with (tag, text, chars, link_chars,
    boiler, content) — the segmentation layer shared by extraction and
    the classifier tests."""
    p = _BlockParser()
    p.feed(html)
    p.close()
    return p.blocks


def is_content_block(block: dict) -> bool:
    """Deterministic jusText/Arc90-style verdict for one block."""
    if block["boiler"]:
        return False
    if block["content"]:
        return True
    if block["chars"] < MIN_CONTENT_CHARS:
        return False
    return block["link_chars"] <= block["chars"] * MAX_LINK_DENSITY


def extract_main(html: str) -> dict:
    """Boilerplate removal for one page: content blocks joined by newline,
    plus the accounting a corpus pipeline wants (how much chrome was cut)."""
    blocks = parse_blocks(html)
    kept = [b for b in blocks if is_content_block(b)]
    return {
        "main_text": "\n".join(b["text"] for b in kept),
        "n_blocks": len(blocks),
        "n_content_blocks": len(kept),
        "content_chars": sum(b["chars"] for b in kept),
        "boiler_chars": sum(b["chars"] for b in blocks) - sum(b["chars"] for b in kept),
    }


class _LinkParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.links: list[str] = []

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "a":
            for name, value in attrs:
                if name == "href" and value:
                    self.links.append(value)


def extract_links(html: str) -> list[str]:
    """All <a href> values in document order (the crawl-frontier primitive
    behind the ``html_link_graph`` query)."""
    p = _LinkParser()
    p.feed(html)
    p.close()
    return p.links


def html_extract(df: DataFrame, html_col: str = "html", id_col: str = "doc_id") -> DataFrame:
    """Corpus-scale boilerplate removal: one Arrow-batched Python pass per
    page, embarrassingly parallel (no shuffle; scales with input splits).
    The id column keeps its name and type, so any key (numeric doc_id,
    string page name) rides through. A page that fails to parse degrades to
    empty output rather than failing the batch — the operator stays total
    like the PDF kernel dispatch."""
    narrow = df.select(F.col(id_col), F.col(html_col).alias("html"))
    schema = T.StructType(
        [
            narrow.schema[id_col],
            T.StructField("main_text", T.StringType()),
            T.StructField("n_blocks", T.LongType()),
            T.StructField("n_content_blocks", T.LongType()),
            T.StructField("content_chars", T.LongType()),
            T.StructField("boiler_chars", T.LongType()),
            T.StructField("links", T.ArrayType(T.StringType())),
        ]
    )

    def row(key, html):
        try:
            res = extract_main(html or "")
            links = extract_links(html or "")
        except Exception:  # noqa: BLE001 — total on adversarial markup
            return [(key, "", 0, 0, 0, 0, [])]
        return [(key, res["main_text"], res["n_blocks"], res["n_content_blocks"],
                 res["content_chars"], res["boiler_chars"], links)]

    return kernel.map_rows(narrow, row, schema)
