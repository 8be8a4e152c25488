"""seismic_spark — a PySpark-native inverted-index + BM25 top-k engine.

A brand-new, Spark-first engine with the query/data-processing capabilities of
the Seismic reference (TusKANNy/seismic, SIGIR'24): statically pruned posting
lists, blocked with per-block quantized summary vectors, dynamically pruned
top-k search — re-expressed as DataFrame jobs + Arrow-vectorized pandas UDFs.

Layout
------
- :mod:`seismic_spark.codec`       delta-gap + varint, value-type round-trips, u8 affine quantization
- :mod:`seismic_spark.session`     SparkSession builder tuned for the engine
- :mod:`seismic_spark.sources`     pages/documents readers + deterministic synth `pages` table
- :mod:`seismic_spark.textprep`    HTML→text, tokenize, BM25 weights (vectorized)
- :mod:`seismic_spark.vocab`       term→id assignment (sorted order), df/idf stats
- :mod:`seismic_spark.forward`     forward (CSR-style) index table
- :mod:`seismic_spark.postings`    prune → block → summarize → quantize → encode
- :mod:`seismic_spark.search`      dynamic-pruning batch top-k search
- :mod:`seismic_spark.oracle`      single-process numpy reference semantics (no Spark)
- :mod:`seismic_spark.serving`     RAM-resident serving replica (bit-identical interactive tier)
- :mod:`seismic_spark.index`       SeismicSparkIndex façade (build/search/save/load)
- :mod:`seismic_spark.operators`   training-data-pipeline ops (dedup, ANN, text analysis)
"""

__all__ = ["SeismicSparkIndex"]
__version__ = "0.1.0"


def __getattr__(name: str):
    if name == "SeismicSparkIndex":
        from seismic_spark.index import SeismicSparkIndex

        return SeismicSparkIndex
    raise AttributeError(name)
