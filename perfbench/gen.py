"""Seeded page and query generator owned by the benchmark.

It does not use ``seismic_spark.sources.pages``, so a change to the
engine's own synthetic sources cannot change what the benchmark feeds it.
Every output is a pure function of ``(seed, sizes)``.

Pages are Common-Crawl-shaped ``(doc_id, url, warc_ts, html, text, lang)``
rows.  Tokens are drawn from a Zipf(1.07) law over a fixed synthetic
vocabulary whose rank order the seed permutes, so two seeds give different
head terms.  ``html`` wraps ``text`` in markup built so that stripping
script/style blocks and tags returns ``text`` byte for byte: the per-row
invariant the extraction check relies on.
"""

from __future__ import annotations

import datetime as dt
import hashlib

import numpy as np
import pyarrow as pa

VOCAB_SIZE = 30_000
ZIPF_S = 1.07
_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]  # 70


def _word(i: int) -> str:
    """Unique lowercase word for vocabulary slot ``i``."""
    out = []
    i += len(_SYLLABLES)  # every word has at least two syllables
    while i:
        i, r = divmod(i, len(_SYLLABLES))
        out.append(_SYLLABLES[r])
    return "".join(out)


_WORDS = np.array([_word(i) for i in range(VOCAB_SIZE)])
_CDF = np.cumsum(1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S)
_CDF /= _CDF[-1]


class Corpus:
    """The seeded term law shared by a workload's pages and queries."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        # rank -> vocabulary slot; the seed decides which words are head terms
        self.rank_to_word = _WORDS[
            np.random.default_rng([seed, 0]).permutation(VOCAB_SIZE)
        ]

    def _zipf_words(self, rng: np.random.Generator, n: int) -> np.ndarray:
        ranks = np.searchsorted(_CDF, rng.random(n), side="right")
        return self.rank_to_word[np.minimum(ranks, VOCAB_SIZE - 1)]

    def pages(self, first_id: int, n: int) -> pa.Table:
        """``n`` pages with doc ids ``first_id .. first_id + n - 1``.

        The rows of one id range do not depend on how the caller splits
        the range into shards.
        """
        cols = {k: [] for k in ("doc_id", "url", "warc_ts", "html", "text", "lang")}
        base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
        for doc_id in range(first_id, first_id + n):
            rng = np.random.default_rng([self.seed, 1, doc_id])
            dl = int(np.clip(rng.lognormal(4.4, 0.6), 12, 800))
            words = self._zipf_words(rng, dl).tolist()
            # a capitalised first word: the tokenizer lowercases it again
            words[0] = words[0].capitalize()
            n_par = 1 + dl // 40
            cuts = np.linspace(0, dl, n_par + 1).astype(int)
            body = " ".join(
                "<p>" + " ".join(words[a:b]) + "</p>"
                for a, b in zip(cuts[:-1], cuts[1:])
            )
            text = " ".join(words)
            title = f"page {doc_id}"
            html = (
                f'<!doctype html><html><head><meta charset="utf-8">'
                f"<script>var t = '<title>{title}</title>';</script>"
                f"<style>p {{ margin: 0 }}</style></head><body>{body}</body></html>"
            )
            u = rng.random(2)
            cols["doc_id"].append(doc_id)
            cols["url"].append(f"https://site{doc_id % 487}.example/{self.seed}/{doc_id}")
            cols["warc_ts"].append(base + dt.timedelta(seconds=int(u[0] * 86400 * 90)))
            cols["html"].append(html.encode())
            cols["text"].append(text)
            cols["lang"].append("en" if u[1] < 0.9 else ("de" if u[1] < 0.95 else "fr"))
        return pa.table(
            {
                "doc_id": pa.array(cols["doc_id"], pa.int64()),
                "url": pa.array(cols["url"], pa.string()),
                "warc_ts": pa.array(cols["warc_ts"], pa.timestamp("us", tz="UTC")),
                "html": pa.array(cols["html"], pa.binary()),
                "text": pa.array(cols["text"], pa.string()),
                "lang": pa.array(cols["lang"], pa.string()),
            }
        )

    def queries(self, n: int, qseed: int) -> list[tuple[str, list[str], list[float]]]:
        """``n`` head-heavy queries of distinct terms drawn from this
        corpus's term law, weights in [0.5, 3); ``qseed`` picks them.

        Lengths cycle through 3..12 so every seed has the same mix of short
        and long queries, the property query cost depends on most."""
        rng = np.random.default_rng([self.seed, 2, qseed])
        out = []
        for q in range(n):
            want = 3 + q % 10
            terms: list[str] = []
            while len(terms) < want:
                for w in self._zipf_words(rng, want).tolist():
                    if w not in terms and len(terms) < want:
                        terms.append(w)
            weights = (0.5 + 2.5 * rng.random(want)).tolist()
            out.append((f"q{q}", terms, weights))
        return out


def docvec_queries(pages: pa.Table, seed: int, n: int, terms: int = 12):
    """``n`` queries made of a sampled page's own top terms by tf-idf,
    weighted by it: the shape of a kappa-NN self-query, whose weights are
    the page's BM25 vector.  Rare terms weigh most, so these are tail-heavy."""
    docs = [t.lower().split() for t in pages.column("text").to_pylist()]
    df: dict[str, int] = {}
    for words in docs:
        for w in set(words):
            df[w] = df.get(w, 0) + 1
    rng = np.random.default_rng([seed, 3])
    rows = rng.choice(len(docs), n, replace=n > len(docs))
    out = []
    for q, row in enumerate(rows.tolist()):
        words, tf = np.unique(docs[row], return_counts=True)
        dfs = np.array([df[w] for w in words], dtype=np.float64)
        weight = tf * np.log(1.0 + (len(docs) - dfs + 0.5) / (dfs + 0.5))
        top = np.lexsort((words, -weight))[:terms]
        out.append((f"d{q}", words[top].tolist(), weight[top].tolist()))
    return out


def content_hash(pages: pa.Table, queries) -> str:
    """SHA-256 over every generated byte, for the determinism self-test."""
    h = hashlib.sha256()
    for name in pages.column_names:
        for v in pages.column(name).to_pylist():
            h.update(repr(v).encode())
    for qid, terms, weights in queries:
        h.update(repr((qid, terms, [float(w).hex() for w in weights])).encode())
    return h.hexdigest()
