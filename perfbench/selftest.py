"""Smoke self-test of the benchmark itself (``run.py --selftest``).

1. The generator is deterministic: one seed gives one content hash, another
   seed gives another.
2. At tiny scale, every workload emits every end-to-end metric named in
   ``BENCHMARK.json`` with its unit, untraced, and every per-layer metric
   with its unit, traced; every output check passes.  The traced run's own
   checks include that the decomposed build gives the same postings (row
   count and checksum) as ``SeismicSparkIndex.build`` on the same pages.
3. Traced spans nest inside their parents and every ``self_s`` is >= 0.

Each run is a subprocess, because a Spark session cannot be restarted in
the process that stopped it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import gen
import workload

HERE = os.path.dirname(os.path.abspath(__file__))


def expect(cond: bool, what) -> None:
    if not cond:
        raise AssertionError(what)


def check_generator() -> None:
    def digest(seed: int) -> str:
        corpus = gen.Corpus(seed)
        pages = corpus.pages(0, 40)
        return gen.content_hash(
            pages, corpus.queries(30, seed) + gen.docvec_queries(pages, seed, 10)
        )

    a, b, c = digest(7), digest(7), digest(8)
    expect(a == b, "same seed, different content")
    expect(a != c, "different seeds, same content")
    print("generator: deterministic per seed, distinct across seeds")


def check_spans(path: str) -> None:
    spans = [json.loads(line) for line in open(path)]
    expect(spans, "no spans written")
    for sp in spans:
        expect(sp["self_s"] >= 0, sp)
        expect(sp["end"] >= sp["start"], sp)
        if sp["parent"] is not None:
            parent = spans[sp["parent"]]
            expect(parent["start"] <= sp["start"] and sp["end"] <= parent["end"], (sp, parent))
    expect(any(sp["parent"] is not None for sp in spans), "spans do not nest")


def check_run(name: str, trace: int, bench: dict) -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--tiny"]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    expect(p.returncode == 0, p.stderr[-3000:])
    out = json.loads(p.stdout.strip().splitlines()[-1])
    expect(sorted(out) == ["attempted", "correct", "failed", "metrics"], out)
    expect(out["correct"] and out["failed"] == 0 and out["attempted"] > 0, out)
    want = bench["per_layer" if trace else "end_to_end"]
    got = out["metrics"]
    expect(sorted(got) == sorted(m["name"] for m in want), sorted(got))
    for m in want:
        expect(got[m["name"]]["unit"] == m["unit"], (m, got[m["name"]]))
        expect(isinstance(got[m["name"]]["value"], (int, float)), m)
    if trace:
        check_spans(os.path.join(os.getcwd(), ".perfbench_out",
                                 f"{name}-seed3.spans.jsonl"))
    print(f"{name} trace={trace}: {len(got)} metrics, "
          f"{out['attempted']} checks passed")


def main(work: str) -> int:
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        bench = json.load(f)
    check_generator()
    for name in workload.WORKLOADS:
        for trace in (0, 1):
            check_run(name, trace, bench)
    print("selftest passed")
    return 0
