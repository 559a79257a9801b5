"""Seeded input generators for the benchmark workloads.

The pipeline's bench corpus is the sf0.1 ``documents`` table (5,000 rows of
``doc_id, text, lang, source, n_chars``). A benchmark run may read only its
own checkout, and that table is not part of it, so ``documents(seed)``
regenerates a table with the same measured profile:

* text is 10-100 words (uniform), each drawn uniformly from the table's 30
  words (``VOCAB``), about 300 characters on average;
* 5% of the rows are an exact copy of another row with the word ``dup``
  appended (the table's own near-duplicates);
* ``lang`` is ``en`` for about 41% of the rows and de/es/fr/zh for the rest
  in equal shares; ``source`` is ``src{doc_id % 20}``.

The ~10x bulk corpus is that table replicated with the repo's duplication-
free affine scheme, ``tools/scaleproof.replicate_documents``. The
curation corpus injects seeded near-duplicates, verbatim spans and
blocklist terms on top of the table.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DUP_WORD = "dup"
TABLE_ROWS, DUP_SHARE, N_SOURCES = 5000, 0.05, 20
LANGS, LANG_WEIGHTS = ("en", "de", "es", "fr", "zh"), (0.41, 0.1475, 0.1475, 0.1475, 0.1475)

# Blocklist terms are six distinct letters, none of them a substring of the
# vocabulary's text, so every occurrence is one injected word.
BLOCK_TERMS = (
    "qzvkjw", "xqjzvk", "jvqxzw", "kzqvxj", "wxjqkz",
    "vjzkqx", "zkxwqv", "qxwzjk", "jwkvzq", "xvzqwj",
)


@dataclass
class Doc:
    doc_id: int
    text: str
    lang: str
    source: str

    def row(self) -> tuple:
        return (self.doc_id, self.text, self.lang, self.source, len(self.text))


@dataclass
class Corpus:
    docs: list[Doc]
    # (lower_id, higher_id) pairs whose texts are near-duplicates: the
    # table's own ``dup`` copies plus the injected twins
    near_dups: list[tuple[int, int]] = field(default_factory=list)
    # (span_text, source_id, target_id): span copied verbatim into target
    spans: list[tuple[str, int, int]] = field(default_factory=list)
    # doc ids carrying blocklist terms -> number of term words inserted
    blocked: dict[int, int] = field(default_factory=dict)


def make_docs(rng: random.Random, n: int, first_id: int = 0) -> list[Doc]:
    """``n`` independent rows of the table's profile (no ``dup`` copies)."""
    return [
        Doc(
            first_id + i,
            " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100))),
            rng.choices(LANGS, LANG_WEIGHTS)[0],
            f"src{(first_id + i) % N_SOURCES}",
        )
        for i in range(n)
    ]


def documents(seed: int, n: int = TABLE_ROWS) -> Corpus:
    """The sf0.1-shaped ``documents`` table: ``n`` rows, DUP_SHARE of them
    a copy of another row plus the word ``dup``."""
    rng = random.Random(seed)
    docs = make_docs(rng, n)
    ids = list(range(n))
    rng.shuffle(ids)
    n_dup = int(n * DUP_SHARE)
    copies, originals = ids[:n_dup], ids[n_dup:]
    corpus = Corpus(docs)
    for d in copies:
        src = rng.choice(originals)
        docs[d].text = f"{docs[src].text} {DUP_WORD}"
        corpus.near_dups.append((min(d, src), max(d, src)))
    return corpus


def curation_corpus(
    seed: int, near_dup_share: float, span_share: float, block_share: float
) -> Corpus:
    """The table with seeded injections on rows outside its ``dup`` pairs:

    * ``near_dup_share`` of the rows are rewritten as twins of another row
      (>= 40 words, one word in 25 substituted: 3-shingle Jaccard ~0.7);
    * ``span_share`` of the rows get a 12-word verbatim span of another
      row inserted at a word boundary;
    * ``block_share`` of the rows get 1-3 blocklist terms inserted."""
    corpus = documents(seed)
    docs = corpus.docs
    rng = random.Random(seed * 31 + 5)
    taken = {d for pair in corpus.near_dups for d in pair}
    ids = [d for d in range(len(docs)) if d not in taken]
    rng.shuffle(ids)
    n_twin = int(len(docs) * near_dup_share)
    n_span = int(len(docs) * span_share)
    n_block = int(len(docs) * block_share)
    # disjoint roles: twins, twin bases, span targets, span sources, blocked
    twins, rest = ids[:n_twin], ids[n_twin:]
    bases = [d for d in rest if len(docs[d].text.split()) >= 40][:n_twin]
    rest = [d for d in rest if d not in set(bases)]
    targets, rest = rest[:n_span], rest[n_span:]
    sources = [d for d in rest if len(docs[d].text.split()) >= 30][:n_span]
    rest = [d for d in rest if d not in set(sources)]
    blocked = rest[:n_block]
    for base, twin in zip(bases, twins):
        words = docs[base].text.split()
        for i in range(0, len(words), 25):
            j = min(len(words) - 1, i + rng.randrange(25))
            words[j] = rng.choice([w for w in VOCAB if w != words[j]])
        docs[twin].text = " ".join(words)
        corpus.near_dups.append((min(base, twin), max(base, twin)))
    for src, tgt in zip(sources, targets):
        sw = docs[src].text.split()
        start = rng.randrange(len(sw) - 12)
        span = " ".join(sw[start:start + 12])
        tw = docs[tgt].text.split()
        at = rng.randrange(len(tw) + 1)
        docs[tgt].text = " ".join(tw[:at] + [span] + tw[at:])
        corpus.spans.append((span, src, tgt))
    for d in blocked:
        words = docs[d].text.split()
        k = rng.randint(1, 3)
        for _ in range(k):
            words.insert(rng.randrange(len(words) + 1), rng.choice(BLOCK_TERMS))
        docs[d].text = " ".join(words)
        corpus.blocked[d] = k
    return corpus


# Hybrid requests cost about 3x a dense one; at 10% of the mix they take
# a quarter of the serving time, leaving enough requests for a steady p50.
MIX = (
    "search", "search_by_document", "search", "find_similar", "search",
    "hybrid_search", "search", "search_by_document", "search", "find_similar",
)


def make_queries(seed: int, n: int, doc_ids: list[int], vec_ids: list[int]) -> list[tuple]:
    """A seeded request mix for search serving: ``(kind, arg, top_k)``.
    Kinds follow the fixed 10-request pattern ``MIX`` (50% search, 20%
    each search_by_document / find_similar, 10% hybrid_search), so every
    run of a given length sees the same mix; the seed draws the arguments.
    ``arg`` is query text, (text, doc_id) or a vector id."""
    rng = random.Random(seed * 7919 + 1)
    out = []
    for i in range(n):
        kind = MIX[i % len(MIX)]
        text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(2, 4)))
        if kind == "search_by_document":
            out.append((kind, (text, rng.choice(doc_ids)), 5))
        elif kind == "find_similar":
            out.append((kind, rng.choice(vec_ids), 5))
        else:
            out.append((kind, text, 10))
    return out
