"""Seeded inputs for the engine benchmark.

Everything the engine receives is made here from ``--seed``: the staged
``transcripts`` corpus and the query streams.
"""

from __future__ import annotations

import dataclasses
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from lucene_solr_spark.plans.parser import parse_query
from lucene_solr_spark.sources.transcripts import VOCAB_SIZE, _vocab, generate_transcripts

# Zipf exponent of the corpus generator's token draw; vocab index == rank
ZIPF_A = 1.07
BANDS = {"hot": (0, 10), "mid": (10, 1000), "rare": (1000, VOCAB_SIZE)}
# one cycle of the single-query stream, in this order
SHAPES = ("hot", "mid", "rare", "or2", "and", "must_not", "mm")
# texts whose postings the codec layer packs
ANALYSIS_CHUNK = 8192


def stage_corpus(path: str, n_turns: int, n_files: int, seed: int) -> pd.DataFrame:
    """Write the first ``n_turns`` turns of the transcripts corpus as a
    sorted table and return them in doc-id order.

    Conversation lengths are Zipf-distributed, so a fixed conversation
    count would make the corpus size, and with it every timing, vary by
    seed; the last conversation is cut short instead. Each of the
    ``n_files`` parquet files holds one contiguous ``conv_id`` range, rows
    in ``(conv_id, turn_idx)`` order, which is the layout
    ``build_index_sorted_source`` requires; doc id = row number here.
    """
    # conversations average about 16.5 turns; with 40% spare, none of
    # seeds 0 to 49999 falls short of 10k turns
    pdf = generate_transcripts(int(n_turns / 16.5 * 1.4) + 1, seed=seed)
    if len(pdf) < n_turns:
        raise ValueError(f"seed {seed} generated {len(pdf)} turns, fewer than {n_turns}")
    pdf = pdf.iloc[:n_turns].reset_index(drop=True)
    conv = pdf["conv_id"].str[4:].astype(np.int64).to_numpy()
    cuts = np.searchsorted(conv, np.linspace(0, conv[-1] + 1, n_files + 1).astype(np.int64))
    os.makedirs(path)
    for i in range(n_files):
        part = pa.Table.from_pandas(pdf.iloc[cuts[i] : cuts[i + 1]], preserve_index=False)
        pq.write_table(part, f"{path}/part-{i:05d}.parquet", coerce_timestamps="ms")
    return pdf


@dataclasses.dataclass(frozen=True)
class BenchQuery:
    qid: str
    shape: str
    text: str  # classic query syntax, as a client would send it
    mm: int  # minimum-should-match applied after parsing (0 = none)

    def parse(self, analyzer):
        q = parse_query(self.text, analyzer)
        return dataclasses.replace(q, minimum_should_match=self.mm) if self.mm else q


class QueryGen:
    """Query strings whose terms are drawn by Zipf rank from the corpus
    generator's own vocabulary, banded into hot / mid / rare ranks.

    Draws are stratified: the j-th draw of a band takes the Zipf quantile
    ``(phase + j * golden) mod 1``, so even the handful of draws one run
    makes spreads over the band's whole distribution. The phase is the same
    for every seed: which hot term lands in which query decides whether that
    query takes the pruned path, which alone moves a query's latency
    twofold, and the terms drawn decide the postings each query reads.
    Every seed thus sends the same query strings; the seed changes the
    corpus they run on and the batch's duplicates and order.
    """

    _GOLDEN = 0.6180339887498949

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 17])
        self.vocab = _vocab()
        # short words recur at many ranks (the generator builds words from
        # random syllables), so their df is the sum of all those ranks' mass;
        # outside the hot band only words with a single rank are drawn, which
        # keeps a band's df range the one its ranks imply
        words, counts = np.unique(self.vocab, return_counts=True)
        single = set(words[counts == 1])
        self._bands = {}
        for name, (lo, hi) in BANDS.items():
            ranks = np.arange(lo, hi)
            if name != "hot":
                ranks = np.array([r for r in ranks if self.vocab[r] in single])
            w = (ranks + 1.0) ** -ZIPF_A
            self._bands[name] = [ranks, np.cumsum(w / w.sum()), 0.5, 0]

    @property
    def hot_terms(self) -> set:
        return {str(w) for w in self.vocab[slice(*BANDS["hot"])]}

    def term(self, band: str) -> str:
        b = self._bands[band]
        ranks, cdf, phase, j = b
        b[3] += 1
        u = (phase + j * self._GOLDEN) % 1.0
        return str(self.vocab[ranks[min(int(np.searchsorted(cdf, u, side="right")), len(cdf) - 1)]])

    def query(self, qid: str, shape: str) -> BenchQuery:
        t = self.term
        if shape in BANDS:
            return BenchQuery(qid, shape, t(shape), 0)
        if shape == "or2":
            return BenchQuery(qid, shape, f"{t('hot')} {t('mid')}", 0)
        if shape == "and":
            return BenchQuery(qid, shape, f"+{t('hot')} +{t('mid')}", 0)
        if shape == "must_not":
            return BenchQuery(qid, shape, f"{t('mid')} -{t('hot')}", 0)
        if shape == "mm":
            return BenchQuery(qid, shape, f"{t('hot')} {t('mid')} {t('mid')}", 2)
        raise ValueError(shape)

    def stream(self, n_cycles: int, prefix: str = "s") -> list:
        """``n_cycles`` repetitions of SHAPES, fresh terms each time."""
        return [
            self.query(f"{prefix}{c:03d}{i}", shape)
            for c in range(n_cycles)
            for i, shape in enumerate(SHAPES)
        ]

    def batch(self, size: int, dup_share: float, prefix: str = "b") -> list:
        """``size`` queries in the SHAPES mix, of which ``dup_share`` repeat an
        earlier query's text (new query id), in a seeded order."""
        n_dup = int(round(size * dup_share))
        distinct = [self.query(f"{prefix}{i:03d}", SHAPES[i % len(SHAPES)]) for i in range(size - n_dup)]
        picks = self.rng.integers(0, len(distinct), n_dup)
        dups = [
            dataclasses.replace(distinct[p], qid=f"{prefix}{len(distinct) + j:03d}") for j, p in enumerate(picks)
        ]
        out = distinct + dups
        order = self.rng.permutation(len(out))
        return [out[i] for i in order]


def query_properties(queries: list, analyzer, hot_terms: set, postings: dict) -> dict:
    """Input properties later claims can cite: shape mix, hot-term share,
    duplicate share and the corpus df of every query term (``postings``:
    term -> {doc: tf}, as the oracle keeps them)."""
    shapes: dict = {}
    n_hot = 0
    texts = set()
    terms = set()
    for q in queries:
        shapes[q.shape] = shapes.get(q.shape, 0) + 1
        qt = q.parse(analyzer).terms()
        terms |= qt
        n_hot += bool(qt & hot_terms)
        texts.add((q.text, q.mm))
    n = max(len(queries), 1)
    return {
        "queries": len(queries),
        "shape_mix": {k: round(v / n, 4) for k, v in sorted(shapes.items())},
        "hot_term_share": round(n_hot / n, 4),
        "duplicate_share": round(1.0 - len(texts) / n, 4),
        "term_df": {t: len(postings.get(t, ())) for t in sorted(terms)},
    }
