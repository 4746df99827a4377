"""Seeded single-process input generators for the three workloads.

Every generator is a pure function of its seed (numpy PCG64, one thread)
and returns the inputs together with the ground truth that is known by
construction, so the checkers never consult the program under test.
Inputs are written with pyarrow; no Spark is needed to make them.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Gopher stopwords (mre.textops._GOPHER_STOPWORDS): fresh text carries
# them so it passes the default quality rules; the content vocabulary
# never contains them.
STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
_CONS = "bcdfghjklmnprstvwz"
_VOWS = "aeiou"


def _vocab(n: int, state: int, syllables: tuple[int, int]) -> list[str]:
    """``n`` distinct lowercase pseudo-words of ``syllables`` = [lo, hi)
    consonant-vowel pairs, fixed for a given ``state``: inputs vary by
    seed, the vocabulary does not."""
    rng = np.random.default_rng(state)
    out, seen = [], set(STOPWORDS)
    while len(out) < n:
        k = int(rng.integers(*syllables))
        w = "".join(_CONS[rng.integers(len(_CONS))]
                    + _VOWS[rng.integers(len(_VOWS))] for _ in range(k))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


VOCAB = _vocab(8000, 7, (2, 4))
# eval-benchmark words end in "x", which no content word does, so an
# eval 5-gram can only appear in a doc where one was planted
EVAL_VOCAB = [w + "x" for w in _vocab(600, 11, (2, 3))]


class TextGen:
    """Documents for the curation corpus: log-normal word counts (median
    220; an unverified guess, long enough that near-copies stay far
    above the near-dup threshold), content words drawn uniformly from
    ``VOCAB`` with a quarter stopwords mixed in."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng

    def n_words(self, lo: int = 60, hi: int = 3000,
                median: float = 220.0) -> int:
        return int(np.clip(self.rng.lognormal(np.log(median), 0.7), lo, hi))

    def words(self, n: int, stop_frac: float = 0.25) -> list[str]:
        idx = self.rng.integers(len(VOCAB), size=n)
        stop = self.rng.random(n) < stop_frac
        sidx = self.rng.integers(len(STOPWORDS), size=n)
        return [STOPWORDS[s] if st else VOCAB[i]
                for i, st, s in zip(idx.tolist(), stop.tolist(),
                                    sidx.tolist())]

    def near_copy(self, words: list[str]) -> list[str]:
        """One substituted content word per 200 words (at least one):
        3-shingle Jaccard with the original stays ≥ ~0.95."""
        out = list(words)
        for _ in range(max(1, len(words) // 200)):
            out[int(self.rng.integers(len(out)))] = \
                VOCAB[int(self.rng.integers(len(VOCAB)))] + "v"
        return out


def _rng(seed: int, stream: int) -> np.random.Generator:
    """The generator of one input stream; any integer seed, negative too."""
    return np.random.default_rng([seed % 2**64, stream])


def split_of(text: str, train_frac: float = 0.9) -> str:
    """Expected ``mre.textops.hash_split`` verdict: md5 hex prefix."""
    b = int(hashlib.md5(text.encode("utf-8")).hexdigest()[:4], 16)
    return "train" if b < int(train_frac * 65536) else "test"


def _write(path: str, table: pa.Table) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


_DOCS_SCHEMA = pa.schema([pa.field("doc_id", pa.int64(), nullable=False),
                          pa.field("text", pa.string())])


def _docs_table(ids, texts) -> pa.Table:
    return pa.table({"doc_id": pa.array(ids, pa.int64()),
                     "text": pa.array(texts, pa.string())},
                    schema=_DOCS_SCHEMA)


# --------------------------------------------------------------------------
# extract_heavytail


# seeds map onto this many disjoint doc_id blocks. The highest doc_id,
# about 2.1e7, is captured (``fixtures.warc_ts_of``: 137 s per doc_id
# after 2024-01-01) before 2115; doc_ids past ~1.8e9 overflow datetime.
SEED_SLOTS = 5000
PARTS = 4            # page sets per seed, each in its own 1000-id block


def extract_pages(seed: int, part: int, n_docs: int, out_dir: str) -> dict:
    """Fixture pages for doc_ids [off, off + n_docs), where the offset is a
    multiple of 100 chosen by the seed and the part (< ``PARTS``): the
    family/size/duplicate mix of ``mre.fixtures`` is then exact (97/2/1 %
    size classes, 5 % duplicate captures, 1 % truncated pages) while every
    page's content differs per part and per seed modulo ``SEED_SLOTS``.
    Truth: the golden row per url."""
    from mre import fixtures
    assert 0 <= part < PARTS, part
    n_docs = max(100, min(1_000, n_docs - n_docs % 100))
    off = 1_000_000 + ((seed % SEED_SLOTS) * PARTS + part) * 1_000
    rows, golden = [], {}
    for i in range(off, off + n_docs):
        rows.append(fixtures.page_row(i))
        if fixtures.has_duplicate(i):
            rows.append(fixtures.page_row(i, dup=True))
        golden[fixtures.url_of(i)] = fixtures.golden_row(i)
    schema = pa.schema([
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us"), nullable=False),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ])
    path = _write(os.path.join(out_dir, "pages.parquet"),
                  pa.Table.from_pylist(rows, schema=schema))
    return {"pages": path, "n_rows": len(rows), "golden": golden,
            "doc_id_offset": off}


# --------------------------------------------------------------------------
# curate_corpus

# planted class shares of the curate corpus (of the "slots"; copies are
# extra rows on top of their original's slot). Like ``TextGen``'s
# log-normal lengths, these are unverified: no measurement of them
# exists; they are chosen so that every curation stage drops a share.
CURATE_MIX = {"fresh": 0.73, "low_quality": 0.08, "exact_group": 0.07,
              "near_group": 0.08, "contaminated": 0.04}


def curate_corpus(seed: int, n_docs: int, out_dir: str) -> dict:
    """A documents table with planted classes and the expected survivors
    of ``run_curate``'s default stages (quality → exact dedup → near dup
    → decontaminate → split):

    * fresh: passes every default Gopher rule, unique → survives;
    * low_quality: under 50 words, or ≥ 60 words with no stopword →
      dropped by quality;
    * exact_group: an original plus 1-3 byte-identical copies → only the
      group's min doc_id survives;
    * near_group: an original (≥ 200 words) plus 1-3 near-copies
      (Jaccard ≥ ~0.95) → only the group's min doc_id survives;
    * contaminated: fresh text with one eval-benchmark 5-gram planted →
      dropped by decontamination.

    doc_ids are a seeded permutation, so which member of a group is the
    min is itself random. Truth: {doc_id: split} of the survivors."""
    rng = _rng(seed, 2)
    tg = TextGen(rng)
    evals = [tg.rng.choice(EVAL_VOCAB, size=30).tolist() for _ in range(40)]
    texts, groups = [], []   # groups: list of (kind, [row idx])
    n_slots = int(n_docs / 1.3)
    kinds = rng.choice(list(CURATE_MIX), size=n_slots,
                       p=list(CURATE_MIX.values()))
    for kind in kinds.tolist():
        if kind == "low_quality":
            if rng.random() < 0.5:
                w = tg.words(int(rng.integers(10, 45)))
            else:
                w = tg.words(tg.n_words(), stop_frac=0.0)
            groups.append((kind, [len(texts)]))
            texts.append(" ".join(w))
        elif kind == "exact_group":
            t = " ".join(tg.words(tg.n_words()))
            k = 1 + int(rng.integers(1, 4))
            groups.append((kind, list(range(len(texts), len(texts) + k))))
            texts.extend([t] * k)
        elif kind == "near_group":
            w = tg.words(tg.n_words(lo=200))
            k = int(rng.integers(1, 4))
            groups.append((kind, list(range(len(texts),
                                            len(texts) + 1 + k))))
            texts.append(" ".join(w))
            texts.extend(" ".join(tg.near_copy(w)) for _ in range(k))
        elif kind == "contaminated":
            w = tg.words(tg.n_words())
            ev = evals[int(rng.integers(len(evals)))]
            s = int(rng.integers(len(ev) - 5))
            p = int(rng.integers(len(w)))
            w[p:p] = ev[s:s + 5]
            groups.append((kind, [len(texts)]))
            texts.append(" ".join(w))
        else:
            groups.append((kind, [len(texts)]))
            texts.append(" ".join(tg.words(tg.n_words())))
    ids = (rng.permutation(len(texts)) + 1).tolist()
    truth = {}
    for kind, rows in groups:
        if kind in ("low_quality", "contaminated"):
            continue
        keep = min(rows, key=lambda r: ids[r])
        truth[ids[keep]] = split_of(texts[keep])
    docs = _write(os.path.join(out_dir, "docs.parquet"),
                  _docs_table(ids, texts))
    ev_path = _write(os.path.join(out_dir, "evals.parquet"), pa.table({
        "eval_id": pa.array(range(len(evals)), pa.int64()),
        "text": pa.array([" ".join(e) for e in evals], pa.string())}))
    counts = {k: sum(len(r) for kk, r in groups if kk == k)
              for k in CURATE_MIX}
    _dump(out_dir, "truth.json", {"survivors": truth, "rows": counts})
    return {"docs": docs, "evals": ev_path, "n_rows": len(texts),
            "truth": truth}


# --------------------------------------------------------------------------
# ingest_batches

# Batch composition. No public or in-repo measurement of duplicate shares
# in crawl batches exists for this program, so these shares are
# unverified: they are chosen so that every dedup path of
# ``ingest_epoch`` (exact vs index, near vs index, exact vs an earlier
# batch, within batch) decides a tenth of a batch or so. Batch 0 has no
# earlier batch to copy from and plants fresh docs in that share instead.
INGEST_MIX = {"index_copy": 0.10, "index_near": 0.10, "earlier_copy": 0.10,
              "within_copy": 0.06}
# Doc lengths: uniform on [10, 100] words, the shape of the sf0.1
# documents table that bench.py's dedup_increment and ingest_stream
# entries read (5000 docs: min 10, max 100, flat histogram).
INGEST_WORDS = (10, 100)
# near-copies append one word to an index doc of at least this many
# words: 3-shingle Jaccard ≥ 38/39, so LSH proposes the pair with
# probability 1 − 1e-8 and the planted decision is not left to chance
NEAR_MIN_WORDS = 40


class IngestGen:
    """Base corpus for ``build_dedup_index`` plus a seeded stream of
    batches for ``ingest_epoch``. Batch ``i`` depends only on the seed
    and batches ``< i``; each carries its planted fresh set, which is
    exactly the set ``ingest_epoch`` must accept."""

    _WORDS = np.array(VOCAB, dtype=object)

    def __init__(self, seed: int, n_base: int, batch_docs: int):
        self.rng = _rng(seed, 3)
        self.batch_docs = batch_docs
        self.base_texts = self._texts(n_base)
        self.near_pool = [i for i, t in enumerate(self.base_texts)
                          if t.count(" ") + 1 >= NEAR_MIN_WORDS]
        self.base_ids = list(range(1, n_base + 1))
        self.next_id = n_base + 1
        self.accepted: list[str] = []    # texts accepted by earlier batches

    def _texts(self, n: int) -> list[str]:
        """``n`` docs, vectorized: lengths uniform on ``INGEST_WORDS``,
        content words from ``VOCAB`` with a quarter stopwords."""
        rng = self.rng
        lens = rng.integers(INGEST_WORDS[0], INGEST_WORDS[1] + 1, size=n)
        total = int(lens.sum())
        words = self._WORDS[rng.integers(len(VOCAB), size=total)]
        stop = rng.random(total) < 0.25
        words[stop] = np.array(STOPWORDS, dtype=object)[
            rng.integers(len(STOPWORDS), size=int(stop.sum()))]
        ends = np.cumsum(lens)
        return [" ".join(words[e - k:e])
                for e, k in zip(ends.tolist(), lens.tolist())]

    def base(self, out_dir: str) -> str:
        return _write(os.path.join(out_dir, "base.parquet"),
                      _docs_table(self.base_ids, self.base_texts))

    def batch(self, i: int, out_dir: str) -> tuple[str, set]:
        rng, b = self.rng, self.batch_docs
        n = {k: int(v * b) for k, v in INGEST_MIX.items()}
        if not self.accepted:
            n["earlier_copy"] = 0
        n_fresh = b - sum(n.values())
        fresh = self._texts(n_fresh)
        texts = [(t, "fresh", j) for j, t in enumerate(fresh)]
        for bi in rng.integers(len(self.base_texts),
                               size=n["index_copy"]).tolist():
            texts.append((self.base_texts[bi], "index_copy", -1))
        for k in rng.integers(len(self.near_pool),
                              size=n["index_near"]).tolist():
            extra = VOCAB[int(rng.integers(len(VOCAB)))] + "v"
            texts.append((f"{self.base_texts[self.near_pool[k]]} {extra}",
                          "index_near", -1))
        for bi in rng.integers(max(1, len(self.accepted)),
                               size=n["earlier_copy"]).tolist():
            texts.append((self.accepted[bi], "earlier_copy", -1))
        for fj in rng.integers(n_fresh, size=n["within_copy"]).tolist():
            texts.append((fresh[fj], "within_copy", fj))
        order = rng.permutation(len(texts))
        texts = [texts[k] for k in order.tolist()]
        ids = list(range(self.next_id, self.next_id + len(texts)))
        self.next_id += len(texts)
        # a fresh doc and its within-batch copies form one exact group:
        # the group's min doc_id is the one the batch must accept
        keeper: dict[int, int] = {}
        for did, (_, kind, fj) in zip(ids, texts):
            if kind in ("fresh", "within_copy"):
                keeper[fj] = min(keeper.get(fj, did), did)
        expect = set(keeper.values())
        self.accepted.extend(fresh)
        path = _write(os.path.join(out_dir, f"batch{i:04d}.parquet"),
                      _docs_table(ids, [t for t, _, _ in texts]))
        _dump(out_dir, f"batch{i:04d}.truth.json",
              {"accepted": sorted(expect)})
        return path, expect


def _dump(out_dir: str, name: str, obj) -> None:
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(obj, f, sort_keys=True, default=str)
