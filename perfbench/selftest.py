#!/usr/bin/env python3
"""Self-test of the benchmark's own arithmetic and bookkeeping.

    python3 perfbench/selftest.py          # Python side, under a second
    python3 perfbench/selftest.py --jvm    # also the JVM side (digest,
                                           # tracer intervals); builds first

Covers: medians and quartile spreads, the geomean, the W/F fit and the
scaling efficiency (stats.py); the battery's canonical result digest
(battery_data.py); and that the metric names run.py reads from
BENCHMARK.json are unique and match the golden battery digests.
"""
import json
import math
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402

FAILS = []


def expect(what, ok):
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        FAILS.append(what)


def close(a, b, tol=1e-9):
    return abs(a - b) <= tol * max(1.0, abs(a), abs(b))


def test_stats():
    expect("median of odd and even samples",
           stats.median([3, 1, 2]) == 2 and stats.median([4, 1, 3, 2]) == 2.5)
    expect("median skips missing values", stats.median([None, 5, 7]) == 6)
    xs = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    expect("spread = (q3 - q1) / median", close(stats.spread(xs), (q3 - q1) / 14.5))
    expect("spread of a constant sample is 0", stats.spread([2.0] * 10) == 0.0)
    expect("geomean", close(stats.geomean([1, 4, 16]), 4.0))
    expect("geomean skips non-positive values", close(stats.geomean([0, 2, 8]), 4.0))
    # wall(c) = W / c + F with W = 12 core-s, F = 3 s
    w, f = stats.wf_fit(12 + 3, 12 / 4 + 3, 4)
    expect("W/F fit recovers W and F", close(w, 12.0) and close(f, 3.0))
    w, f = stats.wf_fit(5.0, 5.0, 4)
    expect("W/F fit: no speed-up means all fixed cost", close(w, 0.0) and close(f, 5.0))
    expect("W/F fit at one core is undefined", math.isnan(stats.wf_fit(5, 5, 1)[0]))
    expect("rates skip zero walls", stats.rates([10, 20], [2, 0]) == [5.0])
    expect("scaling efficiency", close(stats.scaling_eff(300.0, 100.0, 4), 0.75))


def test_digest():
    import pandas as pd
    import battery_data
    a = pd.DataFrame({"b": [2, 1, 3], "a": [0.1 + 0.2, 0.5, 1.0], "s": ["y", "x", "z"]})
    shuffled = a.iloc[[2, 0, 1]][["s", "a", "b"]].reset_index(drop=True)
    h = battery_data._rows_hash
    c = battery_data._canonical
    expect("result digest ignores row and column order", h(c(a)) == h(c(shuffled)))
    nudged = a.copy()
    nudged["a"] = nudged["a"] + 1e-12
    expect("result digest ignores last-bit float noise", h(c(a)) == h(c(nudged)))
    changed = a.copy()
    changed.loc[1, "s"] = "w"
    expect("result digest sees a changed value", h(c(a)) != h(c(changed)))
    expect("result digest sees a duplicated row",
           h(c(a)) != h(c(pd.concat([a, a.iloc[[0]]]))))


def test_generator():
    import battery_data
    with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
        battery_data.generate(d1, 0.001, 7)
        battery_data.generate(d2, 0.001, 7)
        same = all((Path(d1) / f"{t}.parquet").read_bytes() == (Path(d2) / f"{t}.parquet").read_bytes()
                   for t in battery_data.TABLES)
        expect("battery tables are a pure function of (sf, seed)", same)


def test_contract():
    import run
    _, end_to_end, per_layer = run.contract()
    names = [n for n, _ in end_to_end + per_layer]
    expect("metric names are unique", len(names) == len(set(names)))
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    expect("setup_s is an end-to-end metric with the largest bound",
           max(bench["end_to_end"], key=lambda m: m["bound"])["bound"]
           == next(m["bound"] for m in bench["end_to_end"] if m["name"] == "setup_s"))
    golden = json.loads((HERE / "battery_golden.json").read_text())
    queries = sorted(f"q_{n[2:-2]}" for n in names if n.startswith("q."))
    expect("golden digests cover every per-query metric", sorted(golden) == queries)


def test_jvm():
    import build
    import run
    classes, jars = build.ensure_built(), build.spark_jars()
    with tempfile.TemporaryDirectory() as tmp:
        cmd = (["java", "-Xmx1g", f"-Djava.io.tmpdir={tmp}",
                f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
               + run.JAVA_OPENS + ["-cp", f"{classes}:{jars}/*", "graft.perfbench.SelfTest"])
        r = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    print(r.stdout, end="")
    expect("JVM self-test", r.returncode == 0)


if __name__ == "__main__":
    test_stats()
    test_digest()
    test_generator()
    test_contract()
    if "--jvm" in sys.argv:
        test_jvm()
    print(f"{len(FAILS)} failed" if FAILS else "all passed")
    sys.exit(1 if FAILS else 0)
