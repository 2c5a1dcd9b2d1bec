#!/usr/bin/env python3
"""graft crawl + battery benchmark.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

Runs one workload (`crawl` or `battery`) in one JVM at local[nproc],
checks the outputs, and prints one JSON line as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a traced run (SparkListener spans, manifests, checkpoint
sizes, a local[1] crawl for the W/F fit; the span file lands in
`.bench_build/trace/`). See `perfbench/README.md` for what each metric
means.

The program is built from the checkout's sources on first use (see
`build.py`). Cores come from the CPU affinity mask (`nproc`), heap from
MemTotal with the tier-1 formula (half the RAM in GB, clamped to 2..8).
All scratch data (corpus, checkpoints, shuffle/spill, battery tables)
lives in `.bench_build/work-<pid>/` and is deleted on exit. Exits 0 when
every check passes, 1 when one fails, 2 when the program cannot be
built or run.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402

RUN_LIMIT_S = 170  # one run, build excluded; the contract allows 180
BATTERY_SF = 0.002
PHASES = ("chain_warm", "loop_commit", "bulk_commit")


def contract():
    """Workload names and the (name, unit) of every end-to-end and
    per-layer metric, as BENCHMARK.json at the checkout root lists them."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ([w["name"] for w in bench["workloads"]],
            [(m["name"], m["unit"]) for m in bench["end_to_end"]],
            [(m["name"], m["unit"]) for m in bench["per_layer"]])


def host_cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_heap():
    """Same formula as the tier-1 SPARK_DRIVER_MEM: MemTotal / 2 in GB,
    clamped to 2..8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "jdk.internal.ref",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def launch(classes, jars, work, argv, deadline):
    heap = host_heap()
    cmd = (["java", f"-Xmx{heap}", f"-Xms{heap}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/tmp",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + JAVA_OPENS + ["-cp", f"{classes}:{jars}/*", "graft.perfbench.Main"] + argv)
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                            start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        print("[perfbench] run limit reached, stopping the JVM", file=sys.stderr)
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def crawl_metrics(raw, cores, trace):
    L, N = raw["lists"], raw["nums"]
    rate_n = stats.median(stats.rates(L.get("urls:crawl_n", []), L.get("secs:crawl_n", [])))
    rate_1 = stats.median(stats.rates(L.get("urls:crawl_1", []), L.get("secs:crawl_1", [])))
    if not trace:
        reads = [stats.median(v) for k, v in L.items() if k.startswith("read:")]
        return {
            "throughput": rate_n,
            "read_geomean_s": stats.geomean(reads),
            "setup_s": stats.median(L["setup_s"]),
            "heap_peak_mb": N["heap_peak_mb"],
        }
    m = {}
    rate_w = stats.median(stats.rates(L.get("urls:untraced", []), L.get("secs:untraced", [])))
    w, f = stats.wf_fit(stats.median(L.get("secs:crawl_1", [])),
                        stats.median(L.get("secs:untraced", [])), cores)
    waves = N.get("driver.waves", 0.0)
    m.update({
        "driver.plan_s": N.get("driver.plan_s", 0.0),
        "driver.plan_share": N.get("driver.plan_share", 0.0),
        "driver.gap_s": N.get("driver.gap_s", 0.0),
        "driver.wave_s_p50": stats.median(L.get("wave_s", [0.0])),
        "driver.waves": waves,
        "driver.w_core_s": w, "driver.f_fixed_s": f,
        "driver.scaling_eff": stats.scaling_eff(rate_w, rate_1, cores),
        "frontier.chain_warm_s": N.get("phase.chain_warm.wall_s", 0.0),
        "frontier.chain_warm_cpu_s": N.get("phase.chain_warm.cpu_s", 0.0),
        "frontier.chain_stages": N.get("phase.chain_warm.stages", 0.0) / max(waves, 1.0),
        "frontier.fetched": N.get("frontier.fetched", 0.0),
        "frontier.deferred": N.get("frontier.deferred", 0.0),
        "frontier.denied": N.get("frontier.denied", 0.0),
        "frontier.fetch_ratio": N.get("frontier.fetch_ratio", 0.0),
        "seen.probe_s": N.get("seen.probe_s", 0.0),
        "seen.duplicates": N.get("seen.duplicates", 0.0),
        "seen.sketch_mb": N.get("seen.sketch_mb", 0.0),
        "seen.refresh_s": stats.median(L.get("seen.refresh_s", [0.0])),
        "extract.articles_s": stats.median(L.get("extract.noop_s", [0.0])),
        "extract.pages": N.get("extract.pages", 0.0),
        "checkpoint.articles_encode_s": stats.median(L.get("extract.parquet_s", [0.0]))
        - stats.median(L.get("extract.noop_s", [0.0])),
        "checkpoint.articles_mb": N.get("checkpoint.articles_mb", 0.0),
        "checkpoint.bulk_commit_s": N.get("phase.bulk_commit.wall_s", 0.0),
        "checkpoint.loop_commit_s": N.get("phase.loop_commit.wall_s", 0.0),
        "checkpoint.written_mb": N.get("checkpoint.written_mb", 0.0),
        "checkpoint.files": N.get("checkpoint.files", 0.0),
        "checkpoint.compact_s": N.get("phase.compact.wall_s", 0.0),
        "checkpoint.expire_s": N.get("checkpoint.expire_s", 0.0),
        "checkpoint.freed_mb": N.get("checkpoint.freed_mb", 0.0),
        "url.page_index_s": stats.median(L.get("url.page_index_s", [0.0])),
    })
    for ph in PHASES:
        wall = N.get(f"phase.{ph}.wall_s", 0.0)
        m[f"engine.{ph}.task_cpu_s"] = N.get(f"phase.{ph}.cpu_s", 0.0)
        m[f"engine.{ph}.gc_s"] = N.get(f"phase.{ph}.gc_s", 0.0)
        m[f"engine.{ph}.shuffle_write_mb"] = N.get(f"phase.{ph}.shuffle_mb", 0.0)
        m[f"engine.{ph}.spill_mb"] = N.get(f"phase.{ph}.spill_mb", 0.0)
        m[f"engine.{ph}.core_busy"] = (N.get(f"phase.{ph}.run_s", 0.0) / (cores * wall)
                                       if wall > 0 else 0.0)
    traced = stats.median(stats.rates(L.get("urls:traced", []), L.get("secs:traced", [])))
    m["trace.overhead"] = 1.0 - traced / rate_w
    return m


def battery_metrics(raw, cores, trace):
    L, N = raw["lists"], raw["nums"]
    names = sorted({k.split(":")[1] for k in L if k.startswith("q:")})

    def per_query(tag):
        return {q: stats.median(L.get(f"q:{q}:{tag}", [])) for q in names}

    qn = per_query("n")
    if not trace:
        return {
            "throughput": len(names) / stats.median(L["pass_s:n"]),
            "read_geomean_s": stats.geomean(list(qn.values())),
            "setup_s": stats.median(L["setup_s"]),
            "heap_peak_mb": N["heap_peak_mb"],
        }
    qt = per_query("traced")
    m = {f"q.{q[2:]}_s": qt[q] for q in names}
    m["queries.task_cpu_s"] = N.get("queries.task_cpu_s", 0.0)
    m["queries.gc_s"] = N.get("queries.gc_s", 0.0)
    qu = per_query("untraced")
    m["trace.overhead"] = 1.0 - sum(qu.values()) / sum(qt.values())
    return m


def add_check(raw, name, ok, detail=""):
    raw["attempted"] += 1
    raw["checks"].append({"name": name, "ok": ok, "detail": detail})
    if not ok:
        raw["failed"] += 1


def battery_checks(work, raw):
    """The oracle-backed results must match DuckDB over the same tables;
    every query's row count and digest must match `battery_golden.json`
    (recorded from the same generated tables)."""
    import battery_data
    sql = json.loads((Path(work) / "out" / "oracle_sql.json").read_text())
    for name, why in battery_data.oracle_compare(f"{work}/sf", f"{work}/out", sql).items():
        add_check(raw, f"oracle:{name}", why is None, why or "")
    names = sorted({k.split(":")[1] for k in raw["lists"] if k.startswith("q:")})
    got = battery_data.result_digests(f"{work}/out", names)
    golden = json.loads((HERE / "battery_golden.json").read_text())
    for q in names:
        add_check(raw, f"golden:{q}", got.get(q) == golden.get(q),
                  f"{got.get(q)} vs {golden.get(q)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    workloads, end_to_end, per_layer = contract()
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    import build
    try:
        classes = build.ensure_built()
        jars = build.spark_jars()
    except (build.BuildError, OSError, subprocess.SubprocessError) as e:
        print(f"[perfbench] cannot build the program: {e}", file=sys.stderr)
        return 2

    deadline = time.monotonic() + RUN_LIMIT_S
    cores = host_cores()
    work = build.BUILD / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (work / "out").mkdir()
    (work / "sf").mkdir()

    # SIGTERM unwinds like an exception: launch() kills the JVM's process
    # group, the finally below removes the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    try:
        argv = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", str(work), "--cores", str(cores),
                "--out", str(work / "raw.json")]
        if a.trace:
            tdir = build.BUILD / "trace"
            tdir.mkdir(exist_ok=True)
            argv += ["--spans", str(tdir / f"{a.workload}-seed{a.seed}.json")]
        t0 = time.monotonic()
        if a.workload == "battery":
            import battery_data
            battery_data.generate(str(work / "sf"), BATTERY_SF, 42)
            argv += ["--sf", str(work / "sf")]
        t1 = time.monotonic()
        rc = launch(classes, jars, work, argv, deadline)
        t2 = time.monotonic()
        if rc != 0 or not (work / "raw.json").exists():
            print(f"[perfbench] benchmark JVM failed (exit {rc})", file=sys.stderr)
            return 2
        raw = json.loads((work / "raw.json").read_text())
        if a.workload == "battery":
            battery_checks(work, raw)
            values = battery_metrics(raw, cores, a.trace)
        else:
            values = crawl_metrics(raw, cores, a.trace)
        print(f"[perfbench] inputs {t1 - t0:.1f}s, JVM {t2 - t1:.1f}s, "
              f"checks {time.monotonic() - t2:.1f}s", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = per_layer if a.trace else end_to_end
    bad = [name for name, _ in wanted if not math.isfinite(values.get(name, 0.0))]
    if bad:  # an operation failed before it could be measured
        print(f"[perfbench] metrics without a value: {bad}", file=sys.stderr)
        raw["failed"] += 1
    for c in raw["checks"]:
        if not c["ok"]:
            print(f"[perfbench] failed: {c['name']} {c['detail']}", file=sys.stderr)
    metrics = {name: {"value": values.get(name, 0.0) if name not in bad else 0.0, "unit": unit}
               for name, unit in wanted}
    correct = raw["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
