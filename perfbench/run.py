#!/usr/bin/env python3
"""Benchmark of the χ² product path on generated review corpora.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark's JVM side with sbt (perfbench/build.sbt depends on the
repository's own build) into .bench_build/; later runs reuse the build
while the sources are unchanged. Corpora and their expected outputs are
cached under .bench_build/corpora/<workload>-<seed>/.

Each run starts one fresh JVM, which sets up a session the way
ChiSquareCli does and runs the cold job. With --trace 0 it then runs warm
jobs for --seconds (the first 40% of them settle the JIT untimed) and the
run prints the end-to-end metrics. With --trace 1 it runs the traced rounds
(see jvm/graft/perfbench/Traced.scala) and the run prints the per-layer
metrics. The last line of standard output is the result object; progress
goes to standard error.
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

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import oracle  # noqa: E402

BUILD = ".bench_build"
# A run must end within 180 s; generating a corpus takes a few of them.
JVM_TIMEOUT = 165
# The --add-opens list is the one build.sbt gives forked runs: Spark on
# JDK 17 needs it outside spark-submit.
JAVA_OPTS = ["-Xmx3g"] + [
    a for p in ["java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io",
                "java.base/java.net", "java.base/java.nio",
                "java.base/java.util", "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                "java.base/sun.security.action",
                "java.base/sun.util.calendar"]
    for a in ("--add-opens", p + "=ALL-UNNAMED")]

END_TO_END = {"setup_s": "s", "cold_job_s": "s", "docs_per_s": "1/s",
              "shuffle_mb": "MB"}
PER_LAYER = {
    "sources.scan_s": "s", "sources.scan_passes": "ratio",
    "text.tokenize_s": "s", "text.tokens_out": "count",
    "stats.contingency_s": "s", "stats.contingency_shuffle_mb": "MB",
    "stats.chi2_s": "s", "stats.topk_s": "s", "stats.topk_shuffle_rows": "count",
    "pipeline.format_s": "s",
    "streaming.merge_s": "s", "streaming.merge_last_s": "s",
    "streaming.refresh_s": "s", "streaming.store_mb": "MB",
    "spark.codegen_compile_s": "s", "spark.jit_compile_s": "s",
    "spark.jobs": "count", "spark.gc_s": "s", "spark.task_busy_s": "s",
    "spark.core_busy_ratio": "ratio", "spark.shuffle_fetch_wait_s": "s",
    "spark.spill_mb": "MB", "spark.peak_task_mem_mb": "MB",
    "spark.tasks": "count", "spark.tasks_failed": "count",
    "host.calibration_s": "s", "host.steal_ratio": "ratio",
    "trace.overhead_ratio": "ratio",
    "trace.unattributed_s": "s",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/jvm"):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the program and the JVM side; returns the classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    digest = sources_digest()
    if os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    log("building with sbt")
    tmp = os.path.abspath(os.path.join(BUILD, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=" ".join([os.environ.get("SBT_OPTS", "")] + opts))
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd="perfbench", env=env, capture_output=True, text=True, timeout=850)
    out = p.stdout.strip().splitlines()
    if p.returncode != 0 or not out:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        sys.exit("build failed")
    with open(cp_file, "w") as f:
        f.write(out[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return out[-1]


def corpus(workload, seed):
    """The cached corpus and its expectation, made when missing."""
    d = os.path.join(BUILD, "corpora", f"{workload}-{seed}")
    if not os.path.exists(os.path.join(d, "expected.json")):
        shutil.rmtree(d, ignore_errors=True)
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        log(f"generating {workload} seed {seed}")
        gen.write(workload, seed, tmp)
        oracle.remake(tmp)
        os.rename(tmp, d)
    with open(os.path.join(d, "corpus.json")) as f:
        info = json.load(f)
    with open(os.path.join(d, "expected.json")) as f:
        info["expected"] = json.load(f)
    return d, info


def jvm(cp, mode, corpus_dir, work, cores, seconds):
    """Runs BenchMain once; returns (setup seconds, result dict)."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"] + JAVA_OPTS + [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp,
        "graft.perfbench.BenchMain", mode, corpus_dir, work, str(cores),
        str(seconds)]
    with open(os.path.join(work, "jvm.log"), "w") as err:
        start = time.monotonic()
        # SPARK_LOCAL_DIRS would override spark.local.dir, which keeps
        # Spark's scratch files inside the checkout.
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                             text=True, env=env)
        try:
            setup = None
            for line in p.stdout:
                if line.strip() == "READY":
                    setup = time.monotonic() - start
                    break
            p.stdout.read()
            p.wait(timeout=JVM_TIMEOUT)
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    path = os.path.join(work, "result.json")
    if p.returncode != 0 or setup is None or not os.path.exists(path):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        return setup, None
    with open(path) as f:
        return setup, json.load(f)


def output_lines(out_dir):
    parts = sorted(f for f in os.listdir(out_dir) if f.startswith("part-"))
    text = "".join(open(os.path.join(out_dir, f), encoding="utf-8").read()
                   for f in parts)
    return text.splitlines()


def properties_hold(lines, k):
    """Properties any correct output has, whatever the corpus."""
    if len(lines) < 2:
        return False
    cats, selected = [], set()
    for line in lines[:-1]:
        cat, *pairs = line.split(" ")
        if not pairs or len(pairs) > k:
            return False
        terms = [p.rsplit(":", 1)[0] for p in pairs]
        chi2 = [float(p.rsplit(":", 1)[1]) for p in pairs]
        if any(b > a for a, b in zip(chi2, chi2[1:])):
            return False
        cats.append(cat)
        selected.update(terms)
    return (cats == sorted(set(cats))
            and lines[-1].split(" ") == sorted(selected))


class Ops:
    def __init__(self):
        self.attempted = self.failed = 0

    def add(self, result):
        self.attempted += int(result["attempted"])
        self.failed += int(result["failed"])

    def check(self, name, ok):
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"check failed: {name}")


def num(x):
    return 0.0 if x is None else float(x)


def measured(f):
    """f(), or None when a value it needs was not measured (null)."""
    try:
        return f()
    except (TypeError, ZeroDivisionError):
        return None


def check_outputs(work, info, ops):
    """Checks each output directory the JVM left, then keeps only the
    run's files (result.json, jvm.log, spans.json)."""
    for out in ("out-cold", "out-warm", "out-trace", "out-incremental"):
        if os.path.isdir(os.path.join(work, out)):
            ops.check(f"{out} properties", properties_hold(
                output_lines(os.path.join(work, out)), info["expected"]["k"]))
    for d in os.listdir(work):
        if os.path.isdir(os.path.join(work, d)):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)


def timed(cp, workload, seed, seconds, cores, corpus_dir, info, ops):
    work = os.path.join(BUILD, "runs", f"{workload}-{seed}-timed")
    setup, r = jvm(cp, "timed", corpus_dir, work, cores, seconds)
    if r is None:
        ops.check("timed JVM ran", False)
        return {}
    ops.add(r)
    check_outputs(work, info, ops)
    warm = r["warm_job_s"]
    log(f"setup {setup:.3f} s cold {r['cold_job_s']} s warm {warm} "
        f"steal {r['warm_steal_ratio']}")
    return {
        "setup_s": setup,
        "cold_job_s": r["cold_job_s"],
        "docs_per_s": measured(lambda: info["admitted"] / statistics.median(warm)),
        "shuffle_mb": r["shuffle_mb"],
    }


def traced(cp, workload, seed, seconds, cores, corpus_dir, info, ops):
    work = os.path.join(BUILD, "runs", f"{workload}-{seed}-trace")
    _, r = jvm(cp, "trace", corpus_dir, work, cores, seconds)
    if r is None:
        ops.check("trace JVM ran", False)
        return {}
    ops.add(r)
    ops.check("tokens_out equals the oracle's count",
              r["tokens_out"] == info["expected"]["tokens"])
    check_outputs(work, info, ops)
    g = r.get
    exprs = {
        "sources.scan_s": lambda: g("sources.scan_self_s"),
        "sources.scan_passes": lambda: g("batch_input_records") / info["lines"],
        "text.tokenize_s": lambda: g("text.tokenize_self_s"),
        "text.tokens_out": lambda: g("tokens_out"),
        "stats.contingency_s": lambda: g("stats.contingency_self_s"),
        "stats.contingency_shuffle_mb": lambda: g("contingency_shuffle_bytes") / 1e6,
        "stats.chi2_s": lambda: g("stats.chi2_self_s"),
        "stats.topk_s": lambda: g("stats.topk_self_s"),
        "stats.topk_shuffle_rows": lambda: g("topk_shuffle_rows"),
        "pipeline.format_s": lambda: g("pipeline.format_self_s"),
        "streaming.merge_s": lambda: g("merge_s"),
        "streaming.merge_last_s": lambda: g("merge_last_s"),
        "streaming.refresh_s": lambda: g("refresh_s"),
        "streaming.store_mb": lambda: g("store_bytes") / 1e6,
        "spark.codegen_compile_s": lambda: g("cold_codegen_s"),
        "spark.jit_compile_s": lambda: g("cold_jit_s"),
        "spark.jobs": lambda: g("job_jobs"),
        "spark.gc_s": lambda: g("job_gc_s"),
        "spark.task_busy_s": lambda: g("job_task_busy_s"),
        "spark.core_busy_ratio": lambda: g("job_core_busy_ratio"),
        "spark.shuffle_fetch_wait_s": lambda: g("job_fetch_wait_s"),
        "spark.spill_mb": lambda: g("job_spill_bytes") / 1e6,
        "spark.peak_task_mem_mb": lambda: g("job_peak_task_mem_bytes") / 1e6,
        "spark.tasks": lambda: g("job_tasks"),
        "spark.tasks_failed": lambda: g("job_tasks_failed"),
        "host.calibration_s": lambda: g("calibration_s"),
        "host.steal_ratio": lambda: g("steal_ratio"),
        "trace.overhead_ratio": lambda: g("traced_job_s") / g("untraced_job_s") - 1,
        "trace.unattributed_s": lambda: g("untraced_job_s") - g("batch_path_s"),
    }
    log(f"trace rounds {r['rounds']} untraced {r['untraced_job_s']} s "
        f"traced {r['traced_job_s']} s spans {os.path.join(work, 'spans.json')}")
    return {m: measured(f) for m, f in exprs.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala/graft")):
        sys.exit("run from the root of a checkout of the repository "
                 "(build.sbt and src/main/scala/graft are missing)")
    os.makedirs(BUILD, exist_ok=True)
    cp = build()
    corpus_dir, info = corpus(a.workload, a.seed)
    cores = len(os.sched_getaffinity(0))
    ops = Ops()
    run = traced if a.trace else timed
    metrics = run(cp, a.workload, a.seed, a.seconds, cores,
                  os.path.abspath(corpus_dir), info, ops)
    units = PER_LAYER if a.trace else END_TO_END
    ok = ops.failed == 0 and all(metrics.get(m) is not None for m in units)
    print(json.dumps({
        "correct": ok,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {m: {"value": num(metrics.get(m)), "unit": u}
                    for m, u in units.items()},
    }))


if __name__ == "__main__":
    main()
