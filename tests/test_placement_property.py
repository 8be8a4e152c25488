"""Property test across placements: on small random corpora, the Spark
formulation of pruned top-k (`search.batch_search`, fed dict and
DataFrame queries) and the serving replica answer every batch bitwise
alike — both phases, heap factors 0.7 and 1.0.  Both placements apply the
pruning rules through the same functions (search.py), so any divergence
is in what feeds them: query merging, block order, bounds or scores.

The DataFrame queries are unsorted and repeat a term, so the Spark side's
batch merge (`_query_keys`) is exercised against the replica's `_resolve`.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from seismic_spark import search as srch
from seismic_spark.index import SeismicSparkIndex
from seismic_spark.postings import IndexConfig
from seismic_spark.sources.pages import synth_pages, synth_queries

# (seed, config, [(heap_factor, two_phase)]): each corpus runs two of the
# four (heap_factor, phase) pairs, and the three together run all four.
# The salted corpus splits a list over several postings rows: fixed blocks
# of 4, two to a row (kmeans blocking never salts, as every kmeans entry
# is ranked into block 0 before the builder clusters it).
CORPORA = [
    (31, IndexConfig(n_postings=20, summary_energy=0.5, blocking="geometric"),
     [(0.7, True), (1.0, False)]),
    (32, IndexConfig(n_postings=40, summary_energy=0.6, blocking="fixed",
                     block_size=4, blocks_per_row=2),
     [(0.7, False), (1.0, True)]),
    (33, IndexConfig(n_postings=10**6, summary_energy=1.0, quant_ceil=False,
                     value_type="fixedu8"),
     [(0.7, True), (1.0, False)]),
]
VOCAB = 300


def _key(rows):
    return sorted(
        (r.query_id, int(r.rank), int(r.doc_id), float(r.score)) for r in rows
    )


def _scrambled(queries, seed):
    """Each query's tokens in a random order, its first token given twice
    more with new weights: three weights whose sum depends on the order
    they are added in."""
    rng = np.random.default_rng(seed)
    out = []
    for qid, toks, ws in queries:
        if not toks:
            continue
        order = rng.permutation(len(toks))
        toks = [toks[i] for i in order] + [toks[order[0]]] * 2
        ws = [ws[i] for i in order] + rng.uniform(0.1, 2.0, 2).tolist()
        out.append((qid, toks, ws))
    return out


@pytest.mark.parametrize("seed,cfg,runs", CORPORA,
                         ids=["geo", "salted", "exact_fixedu8"])
def test_spark_equals_replica_on_random_corpora(spark, seed, cfg, runs):
    pages = synth_pages(spark, 120, vocab_size=VOCAB, seed=seed)
    corpus = pages.select("url", "text").withColumn(
        "doc_id", F.abs(F.xxhash64("url"))
    )
    idx = SeismicSparkIndex.build(spark, corpus, cfg)
    rep = idx.serving_replica()
    if cfg.blocks_per_row == 2:  # some term's list spans several rows
        assert rep.row_blocks.size - 1 > rep.terms.size
    queries = _scrambled(synth_queries(VOCAB, n_queries=10, seed=seed), seed)
    qvecs = srch.resolve_queries(spark, queries, idx.vocab)
    qdf = spark.createDataFrame(
        [(qid, [rep.vocab[t] for t in toks if t in rep.vocab],
          [w for t, w in zip(toks, ws) if t in rep.vocab])
         for qid, toks, ws in queries],
        srch.QUERIES_SCHEMA,
    ).persist()
    for hf, two_phase in runs:
        kw = dict(k=5, query_cut=6, heap_factor=hf, two_phase=two_phase)
        want = _key(rep.batch_search(queries, **kw).itertuples(index=False))
        assert want
        for q in (qvecs, qdf):
            got = srch.batch_search(spark, idx.postings, idx.forward, q, **kw)
            assert _key(got.collect()) == want, (hf, two_phase, type(q))
    qdf.unpersist()
