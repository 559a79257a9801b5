"""Lazy zip-import invalidation in Python workers (``lazyzip``).

The shim's semantics are checked in fresh interpreters over a temp zip, so
the test process's own import state is never patched. The Spark tests check
that an engine kernel's task runs with the shim in place, and that every
engine Python-kernel family imports the package when the worker unpickles
it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
SHIM = "frappe_data_pipelines_spark.lazyzip"

ZIP_PRELUDE = """
import importlib, importlib.util, json, os, pkgutil, sys, tempfile, zipfile, zipimport

def write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as f:  # truncates and rewrites in place
        for name, src in modules.items():
            f.writestr(name, src)

def reads(fn):
    n = [0]
    orig = zipimport._read_directory
    def counting(archive):
        n[0] += 1
        return orig(archive)
    zipimport._read_directory = counting
    try:
        fn()
    finally:
        zipimport._read_directory = orig
    return n[0]

z = os.path.join(tempfile.mkdtemp(), "lib.zip")
write_zip(z, {"zpkg/__init__.py": "", "zpkg/sub/__init__.py": "", "zpkg/sub/a.py": "X = 1\\n"})
sys.path.insert(0, z)
import zpkg.sub.a
"""


def _run(code: str) -> dict:
    """Run ``code`` in a fresh interpreter that can import the package and
    return the JSON object on its last stdout line."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (str(REPO), env.get("PYTHONPATH")) if p)
    out = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_invalidations_read_no_directory_until_an_import_needs_it():
    got = _run(ZIP_PRELUDE + f"""
from {SHIM} import install
importers = sum(
    isinstance(i, zipimport.zipimporter) and i.archive == z
    for i in sys.path_importer_cache.values()
)
stock = reads(importlib.invalidate_caches)
installed = install()
lazy = reads(lambda: [importlib.invalidate_caches() for _ in range(10)])
miss = reads(lambda: importlib.util.find_spec("zpkg.sub.missing"))
again = reads(lambda: importlib.util.find_spec("zpkg.sub.other"))
print(json.dumps(dict(importers=importers, stock=stock, installed=installed,
                      lazy=lazy, miss=miss, again=again, twice=install())))
""")
    # one zipimporter per package path (lib.zip, zpkg, zpkg/sub), each of
    # which re-reads the directory on every stock invalidation
    assert got["importers"] == 3 and got["stock"] == 3
    assert got["installed"] and not got["twice"]
    assert got["lazy"] == 0
    # the first lookup after an invalidation reads once for all importers
    assert got["miss"] == 1 and got["again"] == 0


def test_archive_rewritten_in_place_is_seen_after_invalidation():
    got = _run(ZIP_PRELUDE + f"""
from {SHIM} import install
install()
write_zip(z, {{"zpkg/__init__.py": "", "zpkg/sub/__init__.py": "",
              "zpkg/sub/a.py": "X = 2\\n", "zpkg/sub/b.py": "Y = 3\\n"}})
stale = importlib.util.find_spec("zpkg.sub.b") is None
importlib.invalidate_caches()
import zpkg.sub.b
importlib.reload(zpkg.sub.a)
importlib.invalidate_caches()
listed = sorted(m.name for m in pkgutil.iter_modules(zpkg.sub.__path__))
print(json.dumps(dict(stale=stale, b=zpkg.sub.b.Y, a=zpkg.sub.a.X, listed=listed)))
""")
    assert got == {"stale": True, "b": 3, "a": 2, "listed": ["a", "b"]}


def test_noop_where_invalidation_already_is_lazy():
    """CPython 3.13+ ships the lazy form (``zipimporter._get_files``)."""
    got = _run(ZIP_PRELUDE + f"""
from {SHIM} import install
zipimport.zipimporter._get_files = lambda self: zipimport._zip_directory_cache[self.archive]
cache, stock = zipimport._zip_directory_cache, zipimport.zipimporter.invalidate_caches
installed = install()
print(json.dumps(dict(
    installed=installed,
    same_cache=zipimport._zip_directory_cache is cache,
    same_method=zipimport.zipimporter.invalidate_caches is stock,
    no_property="_files" not in vars(zipimport.zipimporter),
)))
""")
    assert got == {"installed": False, "same_cache": True, "same_method": True, "no_property": True}


@pytest.mark.parametrize("in_task", [False, True])
def test_package_import_installs_only_inside_a_task(in_task):
    got = _run(f"""
import json, zipimport
from pyspark import TaskContext
if {in_task}:
    TaskContext._setTaskContext(TaskContext._getOrCreate())
stock = zipimport.zipimporter.invalidate_caches
import frappe_data_pipelines_spark
print(json.dumps(dict(
    patched=zipimport.zipimporter.invalidate_caches is not stock,
    plain_cache=type(zipimport._zip_directory_cache) is dict,
)))
""")
    assert got == {"patched": in_task, "plain_cache": not in_task}


def test_engine_kernel_task_reads_no_zip_directory(spark):
    """A task of the fused chunk→embed pass runs with the shim installed:
    the worker's ``importlib.invalidate_caches()`` (the call PySpark makes
    before every task) reads no zip directory, although the worker holds
    zipimporters over pyspark.zip (about 16, each of which re-read it)."""
    from frappe_data_pipelines_spark.operators.chunker import chunk_embed_documents

    class ZipProbe:
        def embed(self, texts):
            import importlib
            import sys
            import zipimport

            n = [0]
            orig = zipimport._read_directory

            def counting(archive):
                n[0] += 1
                return orig(archive)

            zipimport._read_directory = counting
            try:
                importlib.invalidate_caches()
            finally:
                zipimport._read_directory = orig
            zips = sum(isinstance(i, zipimport.zipimporter) for i in sys.path_importer_cache.values())
            lazy = zipimport.zipimporter.invalidate_caches.__module__ == SHIM
            return [[float(n[0]), float(zips), float(lazy)] for _ in texts]

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(8)], "doc_id long, text string"
    ).repartition(4)
    rows = chunk_embed_documents(docs, chunk_size=200, provider=ZipProbe()).collect()
    assert len(rows) == 8
    for r in rows:
        reads, zips, lazy = r["embedding"]
        assert lazy == 1.0 and zips > 0 and reads == 0.0, r


def _kernel_families(spark, tmp_path):
    """One plan per engine Python-kernel family; each lambda builds (and for the
    scrub probe, the suffix index and the SQ8 write, runs) the plan that ships
    the kernel to the workers."""
    import numpy as np

    from frappe_data_pipelines_spark.operators import ann
    from frappe_data_pipelines_spark.operators.blocklist import (
        blocklist_annotate_prepared,
        blocklist_hits,
    )
    from frappe_data_pipelines_spark.operators.chunker import (
        chunk_documents,
        chunk_embed_documents,
    )
    from frappe_data_pipelines_spark.operators.dedup import (
        corpus_doc_fingerprints,
        embedding_neardup_pairs,
        incremental_scrub_local,
        longest_intra_doc_repeat,
        winnow_fingerprints_fast,
    )
    from frappe_data_pipelines_spark.operators.docgen import documents_as_files
    from frappe_data_pipelines_spark.operators.embed import embed_documents
    from frappe_data_pipelines_spark.operators.enrich import _enrich_with_provider
    from frappe_data_pipelines_spark.operators.extraction import extract_text, ocr_images
    from frappe_data_pipelines_spark.operators.multimodal import audio_features
    from frappe_data_pipelines_spark.operators.packing import (
        pack_sequences,
        rebalance_tail_packs,
    )
    from frappe_data_pipelines_spark.operators.providers import caption_with_dead_letter
    from frappe_data_pipelines_spark.operators.quality import _mg_summaries
    from frappe_data_pipelines_spark.operators.suffixindex import (
        build_suffix_index,
        indexed_pattern_counts,
    )

    class Context:  # a caller's provider: pickled by value, no engine reference
        def contextualize(self, ids, idxs, totals):
            return [""] * len(ids)

        def describe(self, payloads, mimes):
            return [""] * len(payloads)

    text = "the quick brown fox jumps over the lazy dog " * 3
    docs = spark.createDataFrame([(1, text), (2, text + "again")], "doc_id long, text string")
    vecs = spark.createDataFrame([(1, [1.0, 0.0]), (2, [1.0, 0.01])], "vec_id long, embedding array<float>")
    terms = spark.createDataFrame([(1, "fox")], "term_id long, term string")
    queries = spark.createDataFrame([(1, [1.0, 0.0])], "query_id long, query_vec array<double>")
    codes = spark.createDataFrame([(1, [0]), (2, [1])], "id long, codes array<int>")
    chunks = spark.createDataFrame([(1, 0, 1)], "doc_id long, chunk_index int, total_chunks int")
    media = spark.createDataFrame([(1, b"RIFF")], "doc_id long, content binary")
    packs = spark.createDataFrame(
        [("0-0", [1], 5, 1), ("1-0", [2], 7, 1)],
        "pack_id string, doc_ids array<bigint>, total_tokens bigint, n_docs int",
    )
    patterns = spark.createDataFrame([(1, "fox")], "pattern_id long, pattern string")
    return {
        "chunk_embed_documents (ingest, door)": lambda: chunk_embed_documents(docs),
        "chunk_documents": lambda: chunk_documents(docs),
        "embed_documents": lambda: embed_documents(docs, text_col="text"),
        "blocklist_hits": lambda: blocklist_hits(docs, terms),
        "blocklist_annotate_prepared (door)": lambda: blocklist_annotate_prepared(docs, [(1, "fox")]),
        "winnow_fingerprints_fast": lambda: winnow_fingerprints_fast(docs),
        "longest_intra_doc_repeat": lambda: longest_intra_doc_repeat(docs),
        "embedding_neardup_pairs": lambda: embedding_neardup_pairs(vecs),
        "incremental_scrub_local (door)": lambda: incremental_scrub_local(
            spark, corpus_doc_fingerprints(docs, min_len=25, k=20), [9], ["x" * 50],
            min_len=25, k=20,
        ),
        "ann.knn_batch": lambda: ann.knn_batch(vecs, queries, k=1),
        "ann.pq_search": lambda: ann.pq_search(codes, np.zeros((1, 2, 2)), [1.0, 0.0], k=1),
        "ann.sq_train": lambda: ann.sq_train(vecs),
        "ann.sq_search": lambda: ann.sq_search(
            codes, np.zeros(1), np.ones(1), [1.0], k=1
        ),
        "providers.caption_with_dead_letter": lambda: caption_with_dead_letter(
            media, provider_factory=Context
        ),
        "enrich._enrich_with_provider": lambda: _enrich_with_provider(chunks, Context()),
        "multimodal.audio_features": lambda: audio_features(media),
        "packing.pack_sequences": lambda: pack_sequences(docs),
        "packing.rebalance_tail_packs": lambda: rebalance_tail_packs(packs),
        "quality._mg_summaries": lambda: _mg_summaries(docs, "text", 2),
        "suffixindex scan": lambda: indexed_pattern_counts(
            build_suffix_index(docs, str(tmp_path / "sidx"), max_width=4), patterns
        ),
        "extraction.extract_text(real_kernels=True)": lambda: extract_text(
            documents_as_files(docs), real_kernels=True
        ),
        "extraction.ocr_images": lambda: ocr_images(
            media.selectExpr("cast(doc_id as string) as path", "content")
        ),
    }


def test_every_kernel_family_imports_the_package_on_unpickle(spark, tmp_path, monkeypatch):
    """The worker sets the task context, then unpickles the kernel. For each
    family, that unpickle (in a fresh interpreter) must import the package
    and so install the shim; a kernel pickled without a reference to the
    package would leave its workers on the eager invalidation."""
    import pyspark.core.rdd as rdd

    for name, build in _kernel_families(spark, tmp_path).items():
        shipped = []
        prepare = rdd._prepare_for_python_RDD

        def record(sc, command, prepare=prepare, shipped=shipped):
            out = prepare(sc, command)
            shipped.append(bytes(out[0]))
            return out

        monkeypatch.setattr(rdd, "_prepare_for_python_RDD", record)
        build()
        monkeypatch.setattr(rdd, "_prepare_for_python_RDD", prepare)
        assert shipped, f"{name}: no Python kernel shipped"
        for i, blob in enumerate(shipped):
            path = tmp_path / f"cmd{i}.bin"
            path.write_bytes(blob)
            got = _run(f"""
import json, sys, zipimport
import pyspark.core.broadcast
from pyspark import TaskContext
from pyspark.serializers import CloudPickleSerializer
# a worker loads the task's broadcast values before its kernel; stand in
pyspark.core.broadcast._from_id = lambda bid: None
TaskContext._setTaskContext(TaskContext._getOrCreate())
before = "frappe_data_pipelines_spark" in sys.modules
CloudPickleSerializer().loads(open({str(path)!r}, "rb").read())
print(json.dumps(dict(
    before=before,
    imported="frappe_data_pipelines_spark" in sys.modules,
    lazy=zipimport.zipimporter.invalidate_caches.__module__ == {SHIM!r},
)))
""")
            assert got == {"before": False, "imported": True, "lazy": True}, (name, i)


def test_every_python_pass_goes_through_the_kernel_seam():
    """Only ``operators/kernel.py`` may call ``mapInPandas``/``mapInArrow``/
    ``applyInPandas``: a pass built anywhere else would ship a kernel that
    need not refer to the package, so its workers could miss the shim."""
    import ast

    pkg = REPO / "frappe_data_pipelines_spark"
    seam = pkg / "operators" / "kernel.py"
    calls = [
        f"{path.relative_to(REPO)}:{node.lineno} {node.func.attr}"
        for path in sorted(pkg.rglob("*.py"))
        if path != seam
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("mapInPandas", "mapInArrow", "applyInPandas")
    ]
    assert not calls, calls
    assert "mapInPandas" in seam.read_text()
