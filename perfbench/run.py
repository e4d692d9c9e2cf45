#!/usr/bin/env python3
"""The graft benchmark: one workload in a fresh JVM at local[nproc].

    python3 perfbench/run.py --workload frontier --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. The first run builds perfbench/ (the
harness plus the program's own src/main/scala) with sbt; later runs reuse
the build while the sources are unchanged. The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones
(see perfbench/README.md for what each measures and should move).

    python3 perfbench/run.py --record frontier --seeds 0-23

re-records the golden check values of a workload into perfbench/golden.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SRC = ROOT / "src" / "main" / "scala"
WORK = BENCH / ".work"
DATA = BENCH / "data" / "sf0.01"
GOLDEN = BENCH / "golden.json"
WORKLOADS = ("frontier", "daemon-cron", "query-suite")
RUN_LIMIT_S = 170  # the whole run, build excluded, must end within 180 s

END_TO_END = {"setup_s": "s", "op_s": "s", "items_per_s": "1/s", "peak_rss_mb": "MB"}
LAYERS = ("crawl.frontier", "crawl.seenset", "crawl.snapshots", "daemon", "sinks",
          "calendar", "streaming", "queries", "other")
LAYER_STATS = {"busy_s": "s", "jobs": "count", "tasks": "count", "shuffle_write_mb": "MB",
               "shuffle_read_mb": "MB", "spill_mb": "MB", "output_mb": "MB",
               "task_skew": "ratio"}
GROUPS = ("relational", "merge", "kernels", "spans", "dedup", "similarity", "text",
          "crawl", "streaming", "recipe")
LEAVES = ("q34_crawl_schedule", "q88_streaming_dedup", "q89_cross_corpus", "q60_containment",
          "q26_ngram_jaccard", "q63_tfidf")


def per_layer_units():
    units = {f"{l}.{k}": u for l in LAYERS for k, u in LAYER_STATS.items()}
    units.update({f"crawl.frontier.{k}_s": "s" for k in ("stageout", "expand_links", "count")})
    units.update({"driver.jobs": "count", "driver.sql_executions": "count", "driver.gap_s": "s",
                  "codegen.compile_s": "s", "codegen.classes": "count", "jvm.gc_s": "s",
                  "jvm.heap_peak_mb": "MB"})
    units.update({f"queries.{g}_s": "s" for g in GROUPS})
    units.update({f"q.{q}_s": "s" for q in LEAVES})
    units.update({"queries.exchanges": "count", "queries.codegen_fallbacks": "count",
                  "trace.overhead_s": "s"})
    return units


PER_LAYER = per_layer_units()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def heap():
    """Half of MemTotal in whole GiB, clamped to 2..8 (the tier-1 rule)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def source_digest():
    files = sorted(SRC.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, or the installation whose spark-submit is on the PATH."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    if not submit:
        sys.exit("[perfbench] no Spark installation: set SPARK_HOME")
    return Path(submit).resolve().parent.parent


def git_commit():
    """The checkout's commit, when it is a git work tree."""
    if not (ROOT / ".git").exists():
        return None
    p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return p.stdout.strip() or None


def build(deadline):
    """Compile perfbench/ with sbt unless the sources match the last build."""
    digest = source_digest()
    stamp = BENCH / "target" / "perfbench.stamp"
    classes = BENCH / "target" / "scala-2.13" / "classes"
    if stamp.exists() and stamp.read_text() == digest and classes.is_dir():
        return digest
    env = dict(os.environ, SPARK_HOME=str(spark_home()))
    env.setdefault("COURSIER_MODE", "offline")
    log("building perfbench with sbt")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=BENCH,
                       env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=max(1, deadline - time.monotonic()))
    if p.returncode != 0:
        sys.exit(f"[perfbench] sbt build failed with code {p.returncode}")
    stamp.write_text(digest)
    return digest


def run_jvm(args, deadline, extra):
    work = WORK / "run"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    java = Path(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    spark_jars = spark_home() / "jars"
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    # a fixed-size heap under the throughput collector: heap growth then
    # does not depend on GC timing, which keeps peak RSS comparable
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [str(java), *opens, f"-Xms{heap()}", f"-Xmx{heap()}", "-XX:+UseParallelGC",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", f"{BENCH / 'target' / 'scala-2.13' / 'classes'}:{spark_jars}/*",
           "perfbench.Harness", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", str(work),
           "--data", str(DATA), "--cores", str(cores()), "--size", args.size, *extra]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("[perfbench] the benchmark JVM ran out of time")
    if proc.returncode != 0:
        sys.exit(f"[perfbench] the benchmark JVM failed with code {proc.returncode}")
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_")]
    if not lines:
        sys.exit("[perfbench] the benchmark JVM printed no record")
    return json.loads(lines[-1].split(" ", 1)[1]), work


def load_golden():
    return json.loads(GOLDEN.read_text()) if GOLDEN.exists() else {}


def check_ops(workload, seed, res, golden):
    """Per-operation check results: (attempted, failed, ok flags, messages)."""
    g = golden.get(workload, {})
    attempted = failed = 0
    ok, problems = [], []
    for op in res["ops"]:
        errs = [op["error"]] if "error" in op else []
        obs = op.get("obs", {})
        if not errs and workload == "frontier":
            want = g.get(str(seed))
            if obs["scheduled"] != obs["seen"]:
                errs.append(f"scheduled {obs['scheduled']} != seen {obs['seen']}")
            if want:
                errs += [f"{k} {obs[k]} != golden {v}" for k, v in want.items() if obs[k] != v]
            else:
                errs += obs.get("invariants", ["invariants not computed"])
        elif not errs and workload == "daemon-cron":
            want = g.get(str(seed), [])
            if obs["failed_sites"]:
                errs.append(f"failed sites {obs['failed_sites']}")
            errs += obs.get("invariants", [])
            if op["i"] < len(want):
                errs += [f"{k} {obs[k]} != golden {v}" for k, v in want[op["i"]].items()
                         if obs[k] != v]
        if workload == "query-suite":
            bad = []
            for q in obs.get("queries", []):
                attempted += 1
                want = g.get(q["q"], {})
                if "error" in q:
                    bad.append(f"{q['q']}: {q['error']}")
                elif want and q["rows"] != want["rows"]:
                    bad.append(f"{q['q']}: {q['rows']} rows != golden {want['rows']}")
            failed += len(bad)
            errs += bad
            if "error" in op:
                attempted += 1
                failed += 1
        else:
            attempted += 1
            failed += bool(errs)
        ok.append(not errs)
        problems += [f"op {op['i']}: {e}" for e in errs]
    if workload == "query-suite":
        hashes = res.get("finish", {}).get("hashes", {})
        for q, h in sorted(hashes.items()):
            want = g.get(q, {}).get("hash")
            if want is not None and h != want:
                failed += 1
                problems.append(f"{q}: content hash {h} != golden {want}")
    return attempted, failed, ok, problems


def end_to_end(res, ok):
    """The metrics of the measured (first) operation, or None if it failed."""
    op = res["ops"][0]
    if not ok[0]:
        return None
    return {"setup_s": res["setup_s"], "op_s": op["wall_s"],
            "items_per_s": op["items"] / op["wall_s"], "peak_rss_mb": res["peak_rss_mb"]}


def summary(workload, res, metrics):
    """The headline numbers under their usual names, for people reading the log."""
    op = res["ops"][0]
    if workload == "frontier":
        return (f"frontier_urls_per_s={metrics['items_per_s']:.0f} 1/s "
                f"({op['items']} scheduled URLs, crawl wall {metrics['op_s']:.3f} s)")
    if workload == "daemon-cron":
        return (f"daemon_cold_cycle_s={metrics['op_s']:.3f} s "
                f"({op['items']} top-K posts, fresh JVM, empty cache)")
    times = [q["s"] for q in op["obs"]["queries"]]
    return (f"suite_s={metrics['op_s']:.3f} s ({len(times)} queries, one count() each) "
            f"suite_geomean_s={statistics.geometric_mean(times):.4f} s")


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def record(args, deadline):
    seeds = parse_seeds(args.seeds) if args.record != "query-suite" else [0]
    args.workload, args.seed, args.seconds, args.trace = args.record, 0, 0, 0
    rec, _ = run_jvm(args, deadline, ["--record", ",".join(map(str, seeds))])
    golden = load_golden()
    if args.record == "query-suite":
        # a content hash is golden only where it repeats across two JVMs
        again, _ = run_jvm(args, deadline, ["--record", "0"])
        for q, v in rec.items():
            if again[q]["hash"] != v["hash"]:
                v["hash"] = None
        golden[args.record] = rec
    else:
        golden.setdefault(args.record, {}).update(rec)
    GOLDEN.write_text(json.dumps(golden, indent=1, sort_keys=True) + "\n")
    log(f"recorded {args.record} for {len(rec)} entries")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="smoke: the self-test's small inputs")
    ap.add_argument("--record", choices=WORKLOADS, help="re-record golden check values")
    ap.add_argument("--seeds", default="0-23", help="seeds to record, e.g. 0-23,40")
    args = ap.parse_args()
    start = time.monotonic()

    if not (SRC / "graft").is_dir():
        sys.exit(f"[perfbench] no program sources at {SRC.relative_to(ROOT)}: "
                 "run from the root of a full checkout")
    digest = build(start + 900)
    if args.record:
        return record(args, time.monotonic() + 3600)
    if not args.workload:
        ap.error("--workload is required")

    golden = load_golden() if args.size == "full" else {
        k: v for k, v in load_golden().items() if k == "query-suite"}
    known = str(args.seed) in golden.get(args.workload, {})
    extra = [] if args.workload == "frontier" and known else ["--invariants", "1"]
    res, work = run_jvm(args, time.monotonic() + RUN_LIMIT_S, extra)

    (WORK / f"last-{args.workload}.json").write_text(json.dumps(res, indent=1))
    attempted, failed, ok, problems = check_ops(args.workload, args.seed, res, golden)
    for p in problems:
        log(f"check failed: {p}")
    prov = dict(res["provenance"], heap=heap(), source_sha256=digest, git_commit=git_commit(),
                seed=args.seed, workload=args.workload, seconds=args.seconds)
    print("provenance " + json.dumps(prov, sort_keys=True))

    e2e = end_to_end(res, ok)
    if e2e is None:
        sys.exit(f"[perfbench] the measured operation failed ({failed} failed)")
    print(summary(args.workload, res, e2e))
    if args.trace:
        spans = WORK / "spans"
        spans.mkdir(exist_ok=True)
        src = work / res["layers"]["trace.spans_file"]
        shutil.copy(src, spans / src.name)
        metrics = {k: {"value": float(res["layers"].get(k) or 0.0), "unit": u}
                   for k, u in PER_LAYER.items()}
        log(f"spans written to {(spans / src.name).relative_to(ROOT)}")
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    for k, v in metrics.items():
        log(f"{k} = {v['value']:.6g} {v['unit']}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0 and not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
