"""Deterministic document synthesis — text → real PDF / DOCX bytes.

Gives the real extraction kernels (operators/extraction.py,
operators/pdfmini.py) a corpus-scale workload: wrap each document's text in
a structurally valid PDF (classic xref table, FlateDecode content stream,
one Tj per line) or DOCX (OOXML zip, one w:p per line), so
``extract_text(real_kernels=True)`` round-trips the text byte-exactly. Used
by the ``extract_real_kernels`` catalog/bench query and the kernel tests;
the reference has no counterpart (its inputs are user files), so this is
pure harness, not an operator claim.
"""

from __future__ import annotations

import io
import zipfile
import zlib
from xml.sax.saxutils import escape

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from frappe_data_pipelines_spark.operators import kernel


def synth_pdf(text: str) -> bytes:
    """One-page PDF showing each line of ``text`` as a latin-1 literal-string
    Tj (the A3 kernel emits one output line per show op, so decode returns
    ``text`` exactly). Classic xref table so the full-graph parser tier is
    the one exercised."""
    lines = text.split("\n")
    ops = b" T* ".join(
        b"(%s) Tj"
        % line.encode("latin-1")
        .replace(b"\\", b"\\\\")
        .replace(b"(", b"\\(")
        .replace(b")", b"\\)")
        for line in lines
    )
    content = zlib.compress(b"BT /F1 11 Tf 72 720 Td " + ops + b" ET")
    objs = [
        b"1 0 obj\n<</Type/Catalog/Pages 2 0 R>>\nendobj\n",
        b"2 0 obj\n<</Type/Pages/Kids[3 0 R]/Count 1>>\nendobj\n",
        b"3 0 obj\n<</Type/Page/Parent 2 0 R/MediaBox[0 0 612 792]"
        b"/Resources<</Font<</F1 5 0 R>>>>/Contents 4 0 R>>\nendobj\n",
        b"4 0 obj\n<</Length %d/Filter/FlateDecode>>\nstream\n%s\nendstream\nendobj\n"
        % (len(content), content),
        b"5 0 obj\n<</Type/Font/Subtype/Type1/BaseFont/Helvetica>>\nendobj\n",
    ]
    body = bytearray(b"%PDF-1.4\n")
    offsets = []
    for o in objs:
        offsets.append(len(body))
        body += o
    xref_pos = len(body)
    body += b"xref\n0 6\n0000000000 65535 f \n"
    for off in offsets:
        body += b"%010d 00000 n \n" % off
    body += (
        b"trailer\n<</Size 6/Root 1 0 R>>\nstartxref\n%d\n%%%%EOF\n" % xref_pos
    )
    return bytes(body)


_DOCX_SHELL = {
    "[Content_Types].xml": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>'
        "</Types>"
    ),
    "_rels/.rels": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>'
        "</Relationships>"
    ),
}


def synth_docx(text: str) -> bytes:
    """DOCX whose word/document.xml has one paragraph per line of ``text``
    (the A5 kernel joins paragraphs with newline → exact round-trip)."""
    paras = "".join(
        f'<w:p><w:r><w:t xml:space="preserve">{escape(line)}</w:t></w:r></w:p>'
        for line in text.split("\n")
    )
    doc = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
        f"<w:body>{paras}</w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in _DOCX_SHELL.items():
            z.writestr(zipfile.ZipInfo(name), data)
        z.writestr(zipfile.ZipInfo("word/document.xml"), doc)
    return buf.getvalue()


def documents_as_files(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """documents → (path, content BINARY): even ids become real PDFs, odd
    ids real DOCX — one Arrow-batched pass, partition-preserving (the synth
    is per-row Python, but it IS the workload being generated, not overhead
    on some other operator's hot path)."""
    narrow = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("text")
    ).repartition(docs.sparkSession.sparkContext.defaultParallelism)

    def row(doc_id, text):
        if doc_id % 2 == 0:
            return [(f"/gen/doc_{doc_id}.pdf", synth_pdf(text or ""))]
        return [(f"/gen/doc_{doc_id}.docx", synth_docx(text or ""))]

    return kernel.map_rows(
        narrow,
        row,
        T.StructType(
            [
                T.StructField("path", T.StringType()),
                T.StructField("content", T.BinaryType()),
            ]
        ),
    )

# ---------------------------------------------------------------------------
# HTML pages (operators/htmlmini.py workload)
# ---------------------------------------------------------------------------

_HTML_PAGE = """<!DOCTYPE html>
<html><head><title>Doc {i}</title>
<style>p {{ margin: 0; }}</style>
<script>var x = 1 < 2;</script>
</head>
<body>
<header><h1>Corpus viewer</h1></header>
<nav><ul>
<li><a href="/doc_{t1}.html">doc {t1}</a></li>
<li><a href="/doc_{t2}.html">doc {t2}</a></li>
<li><a href="/doc_{t3}.html">doc {t3}</a></li>
</ul></nav>
<article><p>{body}</p></article>
<aside><p>Subscribe to our <a href="/newsletter">newsletter</a> today</p></aside>
<footer><p>&#169; corpus {i}</p></footer>
</body></html>
"""


def link_targets(doc_id: int, n_chars: int, n_docs: int) -> tuple[int, int, int]:
    """The three deterministic outlinks of a page: stride derived from the
    document's length so in-degrees vary; reproducible in plain SQL
    ((doc_id + k*(1 + n_chars % 7)) % n_docs for k=1..3)."""
    stride = 1 + n_chars % 7
    return tuple((doc_id + k * stride) % n_docs for k in (1, 2, 3))


def synth_html(doc_id: int, text: str, n_chars: int, n_docs: int) -> str:
    """Wrap one document's text as a realistic web page: title/style/script
    head, header + nav + aside + footer chrome, the document body as the
    single <article> paragraph. ``extract_main`` must return ``text``
    exactly; the chrome's visible character count is a closed-form function
    of (doc_id, outlink ids) so the oracle can verify the removal
    accounting, not just the kept text."""
    t1, t2, t3 = link_targets(doc_id, n_chars, n_docs)
    return _HTML_PAGE.format(i=doc_id, t1=t1, t2=t2, t3=t3, body=escape(text))


def documents_as_html(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """documents → (doc_id, html STRING). The corpus size (for the modular
    outlink targets) rides along via a broadcast single-row cross join —
    no driver collect, the plan stays fully declarative."""
    n = docs.agg(F.count("*").cast("long").alias("n_docs"))
    narrow = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("text"),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
    ).crossJoin(F.broadcast(n))
    # a small parquet arrives as ONE split; the per-row Python below is the
    # workload, so spread it across the cluster first (same move as
    # _knn_edges) — round-robin, no key skew possible
    narrow = narrow.repartition(docs.sparkSession.sparkContext.defaultParallelism)

    def row(i, t, c, n):
        return [(i, synth_html(int(i), t or "", int(c), int(n)))]

    return kernel.map_rows(
        narrow,
        row,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("html", T.StringType()),
            ]
        ),
    )


def documents_as_warc(docs: DataFrame, n_files: int | None = None,
                      id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """documents → (path, content BINARY) WARC files (gzip members), each
    holding a warcinfo record plus one HTTP-response record per document
    whose body is the synth_html page. Grouping docs into n_files mirrors
    real crawl packaging (many pages per archive); records are ordered by
    doc_id inside each file so bytes are deterministic."""
    from frappe_data_pipelines_spark.sources.warc import write_warc

    if n_files is None:
        # one archive per core by default: packaging AND the downstream
        # parse then both run at full cluster width
        n_files = docs.sparkSession.sparkContext.defaultParallelism
    n = docs.agg(F.count("*").cast("long").alias("n_docs"))
    narrow = (
        docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(text_col).alias("text"),
            F.length(F.col(text_col)).cast("long").alias("n_chars"),
        )
        .crossJoin(F.broadcast(n))
        .withColumn("part", F.pmod(F.col("doc_id"), F.lit(n_files)))
    )

    def build(_key, pdf):
        import pandas as pd

        pdf = pdf.sort_values("doc_id")
        part = int(pdf["part"].iloc[0])
        records = [
            {
                "warc_type": "warcinfo",
                "uri": "",
                "content_type": "application/warc-fields",
                "body": b"software: fdp-spark docgen\r\n",
            }
        ]
        for i, t, c, n_docs in zip(pdf["doc_id"], pdf["text"], pdf["n_chars"], pdf["n_docs"]):
            html = synth_html(int(i), t or "", int(c), int(n_docs))
            records.append(
                {
                    "warc_type": "response",
                    "uri": f"https://corpus.example.com/doc_{int(i)}.html",
                    "content_type": "text/html; charset=utf-8",
                    "body": html.encode("utf-8"),
                }
            )
        return pd.DataFrame(
            {"path": [f"/warc/part-{part:05d}.warc.gz"], "content": [write_warc(records)]}
        )

    return kernel.apply_groups(narrow.groupBy("part"), build, "path string, content binary")
