"""The in-process gate and the replica budget read the replica's own size.

`ServingReplica.predicted_nbytes` sizes the hydrated arrays from the
index's `space_usage()` breakdown.  It must never undercount the arrays a
replica holds once its component index is built, and may overcount only
by the row and term arrays' slack (at most 40 B per block).  The gate
behind `SeismicSparkIndex.batch_search` compares that number, not a token
estimate, with `_LOCAL_SCORE_MAX_BYTES`.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F
from test_placement_property import CORPORA, VOCAB, _key

from seismic_spark import index as index_mod
from seismic_spark.index import SeismicSparkIndex
from seismic_spark.postings import IndexConfig
from seismic_spark.serving import ServingReplica
from seismic_spark.sources.pages import synth_pages, synth_queries


def _corpus(spark, seed, n_pages=120):
    pages = synth_pages(spark, n_pages, vocab_size=VOCAB, seed=seed)
    return pages.select("url", "text").withColumn(
        "doc_id", F.abs(F.xxhash64("url"))
    )


def _measured(rep):
    """Bytes of the replica's arrays with the component index built and
    without the query-weight LUT."""
    rep._hit_index()
    return sum(v.nbytes for name, v in vars(rep).items()
               if isinstance(v, np.ndarray) and name != "_qw_lut")


def _assert_predicted(idx):
    rep = ServingReplica.from_index(idx)
    slack = (ServingReplica.predicted_nbytes(idx.space_usage(), idx.n_docs)
             - _measured(rep))
    assert 0 <= slack <= 40 * rep.bmax.size
    return rep


# the placement property's three corpora, and fixed blocks of 4 salted two
# to a row, so rows outnumber terms
CASES = [c[:2] for c in CORPORA] + [
    (34, IndexConfig(n_postings=30, blocking="fixed", block_size=4,
                     blocks_per_row=2, summary_energy=0.7)),
]


@pytest.mark.parametrize("seed,cfg", CASES, ids=[
    "geo", "salted", "exact_fixedu8", "fixed_salted"])
def test_predicted_nbytes_bounds_the_hydrated_arrays(spark, tmp_path, seed,
                                                     cfg):
    """Built and from a saved snapshot (packed for the fixed-u8 corpus,
    whose forward hydrates from its packed files): predicted − measured is
    in [0, 40 B × blocks]."""
    idx = SeismicSparkIndex.build(spark, _corpus(spark, seed), cfg)
    rep = _assert_predicted(idx)
    if cfg.blocking == "fixed":
        assert rep.row_blocks.size - 1 > rep.terms.size
    path = str(tmp_path / "idx")
    idx.save(path, packed_values=cfg.value_type == "fixedu8")
    _assert_predicted(SeismicSparkIndex.load(spark, path))


def test_gate_reads_the_replica_size(spark, monkeypatch):
    """A kmeans e0.5 index whose replica is many times the old
    n_docs·avgdl·16 estimate: a bound between the two sends batch_search
    to Spark, with the replica's answer and nothing hydrated; a bound at
    the predicted size hydrates."""
    idx = SeismicSparkIndex.build(
        spark, _corpus(spark, 41),
        IndexConfig(n_postings=40, summary_energy=0.5, blocking="kmeans",
                    centroid_fraction=0.2, min_cluster_size=2),
    )
    estimate = int(idx.n_docs * max(idx.avgdl, 1.0) * 16)
    predicted = ServingReplica.predicted_nbytes(idx.space_usage(), idx.n_docs)
    assert predicted > 4 * estimate
    rep = ServingReplica.from_index(idx)
    queries = synth_queries(VOCAB, n_queries=8, seed=41)
    kw = dict(k=5, query_cut=6, heap_factor=0.8)
    want = _key(rep.batch_search(queries, **kw).itertuples(index=False))
    assert want

    monkeypatch.setattr(index_mod, "_LOCAL_SCORE_MAX_BYTES",
                        (estimate + predicted) // 2)
    assert _key(idx.batch_search(queries, **kw).collect()) == want
    assert idx._replica is None

    monkeypatch.setattr(index_mod, "_LOCAL_SCORE_MAX_BYTES", predicted)
    assert _key(idx.batch_search(queries, **kw).collect()) == want
    assert idx._replica is not None
