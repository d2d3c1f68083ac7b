#!/usr/bin/env python3
"""graft's benchmark: one workload, one process at local[nproc].

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds graft from the enclosing checkout's sources together with the
benchmark's JVM side in perfbench/src (once per source state), runs the
workload in one JVM, and prints one line per metric followed by a last
line of JSON:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones (see
BENCHMARK.json and perfbench/METRICS.md).
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import stats  # noqa: E402

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
BUILD = HERE / ".build"
WORK = HERE / ".work"
WORKLOADS = ("har_1nn_dtw", "har_knn_eu_k5", "stream_knn_1nn")
# a run exits within 180 s, or 900 s when it has to build first
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 890
BUILD_LIMIT_S = 700

# Spark on JDK 17 needs these outside spark-submit (the root build.sbt
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: graft's and the benchmark's sources."""
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (REPO / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(REPO)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(deadline):
    """Compiles graft and the benchmark with sbt unless the sources are
    unchanged since the last build; returns the runtime classpath and
    whether it built.
    """
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip(), False
    BUILD.mkdir(exist_ok=True)
    log = BUILD / "build.log"
    with open(log, "w") as out:
        try:
            # its own process group: the sbt launcher script forks the JVM
            proc = subprocess.Popen(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                cwd=HERE, stdout=subprocess.PIPE, stderr=out, stdin=subprocess.DEVNULL,
                text=True, start_new_session=True)
        except FileNotFoundError:
            fail("sbt not found on PATH")
        try:
            stdout, _ = proc.communicate(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"build timed out; see {log}")
        out.write(stdout)
    # the last line sbt prints is the exported classpath
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("".join(open(log).readlines()[-30:]))
        fail(f"build failed; see {log}")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip(), True


def run_jvm(cp, args, deadline):
    """Runs the workload's JVM with its working directory, Spark scratch
    space and temp files in a directory of its own under perfbench/.work;
    returns its raw dump.
    """
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    raw = run_dir / "raw.json"
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-XX:+UseParallelGC", "-Dfile.encoding=UTF-8",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(run_dir), "--out", str(raw)]
    env = dict(os.environ, LC_ALL="C.utf8", SPARK_LOCAL_DIRS=str(run_dir / "tmp"))
    log = run_dir / "jvm.log"
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"workload did not finish in time; see {log}")
    if rc != 0 or not raw.exists():
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"workload JVM exited with {rc}; see {log}")
    d = json.loads(raw.read_text())
    # keep the last run's log and dump for inspection, drop its scratch
    for f in (log, raw):
        shutil.copy(f, WORK / f"last-{f.name}")
    shutil.rmtree(run_dir, ignore_errors=True)
    return d


# ---------------------------------------------------------------- metrics

def end_to_end(d):
    """Tracer-off metrics as sample lists: the reported value of each is
    its median over the measured iterations (or set-ups).
    """
    walls = [i["wall_s"] for i in d["iterations"] if i["measured"]]
    return {
        "run_s": walls,
        "items_per_s": [d["items"] / w for w in walls],
        "setup_s": d["setup_s"],
        "peak_rss_mb": [d["peak_rss_kb"] / 1024.0],
    }


# the percentile reported as streaming.batch_tail_ms: the upper quartile
# (a run holds too few micro-batches to leave ten beyond a higher one)
TAIL_P = 75


def attribute(d, run):
    """Spans of one traced iteration, with every Spark job of the run
    attached to the span that submitted it: by job group when the job
    carries the span's group, else to the innermost span whose interval
    holds the job's start (jobs Spark submits from its own threads, such
    as broadcasts and micro-batches).
    """
    spans = [dict(s, idx=i) for i, s in enumerate(d["spans"]) if s["run"] == run]
    by_group = {f"graftbench:{run}:{s['idx']}": s for s in spans}
    root = next(s for s in spans if s["parent"] == -1)
    jobs = []
    for j in d["jobs"]:
        if j["end"] is None:
            continue
        owner = by_group.get(j["group"])
        if owner is None:
            if not (root["start"] - 2 <= j["start"] <= root["end"] + 2):
                continue
            holders = [s for s in spans if s["start"] - 2 <= j["start"] <= s["end"] + 2]
            owner = max(holders, key=lambda s: s["start"])
        jobs.append(dict(j, owner=owner["idx"]))
    return root, spans, jobs


def stage_totals(d, jobs):
    """Task totals of the stages that ran for these jobs (a stage shared by
    several jobs runs once and is counted once).
    """
    ids = {int(s) for j in jobs for s in j["stages"]}
    t = dict(stages=0, tasks=0, run_s=0.0, cpu_s=0.0, gc_s=0.0,
             shuffle_write=0, shuffle_read=0, spill=0)
    for s in d["stages"]:
        if s["id"] in ids:
            t["stages"] += 1
            t["tasks"] += s["tasks"]
            t["run_s"] += s["run_ms"] / 1e3
            t["cpu_s"] += s["cpu_ns"] / 1e9
            t["gc_s"] += s["gc_ms"] / 1e3
            t["shuffle_write"] += s["shuffle_write"]
            t["shuffle_read"] += s["shuffle_read"]
            t["spill"] += s["spill"]
    return t


def per_layer_run(d, run):
    """Per-layer values of one traced iteration."""
    root, spans, jobs = attribute(d, run)
    cores, counts, k = d["cores"], d["counts"], d["kernels"]
    wall = (root["end"] - root["start"]) / 1e3
    steps = [s for s in spans if s["parent"] == root["idx"]]

    def dur(prefix):
        return sum(s["end"] - s["start"] for s in steps if s["name"].startswith(prefix)) / 1e3

    def children(s):
        kids = [(c["start"], c["end"]) for c in spans if c["parent"] == s["idx"]]
        return kids + [(j["start"], j["end"]) for j in jobs if j["owner"] == s["idx"]]

    def subtree(s):
        out = {s["idx"]}
        for c in spans:
            if c["parent"] in out:
                out.add(c["idx"])
        return out

    tot = stage_totals(d, jobs)
    knn = next((s for s in steps if s["name"] in ("operators.knn", "streaming.batch")), None)
    knn_s = (knn["end"] - knn["start"]) / 1e3 if knn else 0.0
    knn_cpu = stage_totals(d, [j for j in jobs if j["owner"] in subtree(knn)])["cpu_s"] if knn else 0.0
    terms = [(k.get("dtw_ns_per_pair", 0.0), counts.get("dtw_pairs", 0.0)),
             (k.get("paa_manhattan_ns_per_pair", 0.0), counts.get("paa_manhattan_pairs", 0.0)),
             (k.get("euclidean_ns_per_pair", 0.0), counts.get("euclidean_pairs", 0.0))]
    step_self = sum(stats.self_time((s["start"], s["end"]), children(s)) for s in steps) / 1e3
    root_self = stats.self_time((root["start"], root["end"]),
                                [(s["start"], s["end"]) for s in steps]) / 1e3
    m = {
        "ingest.parse_s": dur("ingest."),
        "operators.knn_s": knn_s,
        "operators.knn_pairs": counts.get("knn_pairs", 0.0) if knn else 0.0,
        "operators.knn_pairs_per_s": counts.get("knn_pairs", 0.0) / knn_s if knn_s > 0 else 0.0,
        "operators.kernel_share": stats.kernel_share(terms, knn_cpu) if knn else 0.0,
        "operators.eval_s": dur("operators.eval"),
        "sources.write_s": dur("sources.write"),
        "sources.read_s": dur("sources.read"),
        "spark.plan_s": sum(s["end"] - s["start"] for s in spans if s["name"] == "plan") / 1e3,
        "spark.jobs": float(len(jobs)),
        "spark.jobs_wall_s": stats.union_length([(j["start"], j["end"]) for j in jobs]) / 1e3,
        "spark.stages": float(tot["stages"]),
        "spark.tasks": float(tot["tasks"]),
        "spark.executor_run_s": tot["run_s"],
        "spark.executor_cpu_s": tot["cpu_s"],
        "spark.gc_s": tot["gc_s"],
        "spark.shuffle_write_bytes": float(tot["shuffle_write"]),
        "spark.shuffle_read_bytes": float(tot["shuffle_read"]),
        "spark.spill_bytes": float(tot["spill"]),
        "spark.cpu_util": stats.cpu_util(tot["cpu_s"], wall, cores),
        "trace.run_s": wall,
        "trace.steps_self_s": step_self,
        "trace.unaccounted_s": root_self,
    }
    return m


def per_layer(d):
    """Per-layer metrics: medians over the traced iterations, kernel
    timings, micro-batch medians, and the tracing overhead against the
    untraced iterations interleaved with them.
    """
    its = [i for i in d["iterations"] if i["measured"]]
    traced = [i for i in its if i["traced"]]
    plain = [i for i in its if not i["traced"]]
    rows = [per_layer_run(d, i["run"]) for i in traced]
    m = {name: (stats.median([r[name] for r in rows]), len(rows)) for name in rows[0]}
    k = d["kernels"]
    for name in ("dtw_ns_per_pair", "dtw_cells_per_pair", "paa_manhattan_ns_per_pair",
                 "euclidean_ns_per_pair"):
        m["functions." + name] = (k[name], 1)
    for name in ("start_s", "stop_s"):
        m["streaming." + name] = (d["timings"].get(name, 0.0), 1 if d["timings"] else 0)
    progress = [p for i in its for p in i["progress"]]
    batch = [p["batch_ms"] for p in progress]
    m["streaming.batch_p50_ms"] = (stats.median(batch) if batch else 0.0, len(batch))
    m["streaming.batch_tail_ms"] = (stats.percentile(batch, TAIL_P) if batch else 0.0, len(batch))
    for key in ("add_batch_ms", "query_planning_ms", "wal_commit_ms"):
        vals = [p[key] for p in progress]
        m[f"streaming.{key}_p50"] = (stats.median(vals) if vals else 0.0, len(vals))
    untraced_run_s = stats.median([i["wall_s"] for i in plain])
    m["trace.untraced_run_s"] = (untraced_run_s, len(plain))
    m["trace.overhead_s"] = (m["trace.run_s"][0] - untraced_run_s, len(rows))
    return m


# Metric name -> unit, in BENCHMARK.json's order (test_contract.py pins the match).
END_TO_END = {
    "run_s": "s",
    "items_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "functions.dtw_ns_per_pair": "ns",
    "functions.dtw_cells_per_pair": "count",
    "functions.paa_manhattan_ns_per_pair": "ns",
    "functions.euclidean_ns_per_pair": "ns",
    "ingest.parse_s": "s",
    "operators.knn_s": "s",
    "operators.knn_pairs": "count",
    "operators.knn_pairs_per_s": "1/s",
    "operators.kernel_share": "ratio",
    "operators.eval_s": "s",
    "sources.write_s": "s",
    "sources.read_s": "s",
    "streaming.start_s": "s",
    "streaming.stop_s": "s",
    "streaming.batch_p50_ms": "ms",
    "streaming.batch_tail_ms": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.query_planning_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "spark.plan_s": "s",
    "spark.jobs": "count",
    "spark.jobs_wall_s": "s",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.cpu_util": "ratio",
    "trace.run_s": "s",
    "trace.untraced_run_s": "s",
    "trace.overhead_s": "s",
    "trace.steps_self_s": "s",
    "trace.unaccounted_s": "s",
}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()

    if not (REPO / "src" / "main" / "scala" / "graft").is_dir():
        fail("graft's sources (src/main/scala/graft) are not in this checkout", 2)
    cp, rebuilt = build(started + BUILD_LIMIT_S)
    d = run_jvm(cp, args, started + (FIRST_RUN_LIMIT_S if rebuilt else RUN_LIMIT_S))

    its = d["iterations"]
    failed = sum(1 for i in its if not i["ok"])
    print(f"workload {args.workload} seed {args.seed}: {len(its)} iterations "
          f"(incl. {len(d['setup_s'])} warm-up), {failed} failed, "
          f"error_rate {failed / len(its):.4f} (ratio, n={len(its)})")
    metrics = {}
    if args.trace == 0:
        samples = end_to_end(d)
        for name, unit in END_TO_END.items():
            t = stats.timing(samples[name])
            metrics[name] = {"value": t["median"], "unit": unit}
            tail = (f"p{t['tail_p']:g} {t['tail']:.4f}" if t["tail_p"] is not None
                    else "no tail: under 20 samples")
            print(f"  {name:<34} {t['median']:>16.4f} {unit:<6} median, n={t['n']}, {tail}")
    else:
        values = per_layer(d)
        for name, unit in PER_LAYER.items():
            v, n = values[name]
            metrics[name] = {"value": v, "unit": unit}
            print(f"  {name:<34} {v:>16.4f} {unit:<6} n={n}")
    print(json.dumps({"correct": failed == 0, "attempted": len(its), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
