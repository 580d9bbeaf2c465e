#!/usr/bin/env python3
"""Table-engine benchmark: one command builds the engine, runs one
workload and checks its results.

  python3 enginebench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: ingest_cdc, analytics_suite (see
README.md beside this file). The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. The lines before
it report every class percentile, the workload's own numbers and the
steadiness ratios.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("ingest_cdc", "analytics_suite")
HEAP = "2g"
# Spark task threads, and the CPU count the JVM sizes its GC and JIT
# thread pools by: with the client and CDC stream threads, the JVM's busy
# threads stay within the host's 4 cores (README.md, "Load and setup").
CPUS = 2
JVM_TIMEOUT_S = 165
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg):
    print(f"enginebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine + benchmark once per source state; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources (src/main/scala/graft) not found beside the benchmark")
    digest = source_digest()
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            stamp, cp = f.read().split("\n", 1)
        if stamp == digest:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = [env["SBT_OPTS"]] if env.get("SBT_OPTS") else ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if not env.get("SBT_OPTS") and os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    # sbt's own temp files stay inside the checkout
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = " ".join(opts + [f"-Djava.io.tmpdir={tmp}", "-Dsbt.server.autostart=false",
                                       "-XX:-UsePerfData"])
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as lf:
        rc = wait(subprocess.Popen(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                                    "export Runtime/fullClasspath"],
                                   cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=lf,
                                   stderr=subprocess.STDOUT, start_new_session=True), 800)
    with open(log, errors="replace") as f:
        out = f.read()
    lines = [l for l in out.splitlines() if "enginebench" in l and "classes" in l
             and not l.startswith("[")]
    if rc != 0 or not lines:
        sys.stderr.write(out[-6000:])
        die("build failed")
    with open(cp_file, "w") as f:
        f.write(digest + "\n" + lines[-1].strip())
    return lines[-1].strip()


def run_jvm(cp, args, work, log):
    # C1 only: C2 keeps compiling through a short run and compiles
    # differently from JVM to JVM (README.md, "Steadiness")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
            f"-XX:ActiveProcessorCount={CPUS}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "enginebench.Main"] + args)
    with open(log, "w") as lf:
        return wait(subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                                     stdin=subprocess.DEVNULL, start_new_session=True),
                    JVM_TIMEOUT_S)


def wait(p, timeout):
    """Exit status of `p`, or -1 after `timeout` s. On a timeout, or when
    this script is interrupted or terminated, the child's whole process
    group is killed and reaped first."""
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def oracle_check(corpus, results):
    """Compares each query's parquet result with its DuckDB oracle SQL over
    the same corpus: column-name-sorted, row by row, exact. Queries with
    no oracle SQL check their own invariants and count as passed when
    they ran."""
    import duckdb
    from decimal import Decimal

    def norm(v):
        if isinstance(v, Decimal):
            return ("dec", str(v.normalize()))
        if isinstance(v, float):
            return ("f", repr(v))
        if isinstance(v, list):
            return tuple(norm(x) for x in v)
        if isinstance(v, dict):
            return tuple(sorted((k, norm(x)) for k, x in v.items()))
        return v

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for f in sorted(os.listdir(corpus)):
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(corpus, f)}')")

    def fetch(sql):
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return [cols[i] for i in order], [tuple(norm(r[i]) for i in order) for r in cur.fetchall()]

    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = []
    for q, sql in sorted(oracle.items()):
        try:
            got = fetch(f"SELECT * FROM read_parquet('{os.path.join(results, q)}/*.parquet')")
            if got != fetch(sql):
                bad.append(q)
        except Exception as e:  # a missing result or a broken oracle is a failure
            print(f"oracle {q}: {e}", file=sys.stderr)
            bad.append(q)
    return len(oracle), bad


def median_mean(classes, key):
    """Mean ms per op of the run's fixed op sequence, each op counted at
    its class's median: a slow spell of the shared host moves a class
    median only once it covers half of that class's ops."""
    n = sum(len(c[key]) for c in classes.values())
    return sum(len(c[key]) * statistics.median(c[key]) for c in classes.values()) / n


def pct(xs, q):
    """Linear-interpolated quantile, or None without ten samples beyond it."""
    if len(xs) * (1 - q) < 10 - 1e-9 and q > 0.5:
        return None
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# The per-workload metrics named in the design, each taken from one op
# class or from one number the workload measures outside op windows.
NAMED = {
    "ingest_cdc": [("write", "extra", "append.commit_ms"), ("read", "class", "read"),
                   ("cdc_lag", "extra", "cdc_lag_ms"), ("maint", "class", "maint")],
    "analytics_suite": [],
}


def report(workload, res, failed, attempted, lines):
    """Report lines: every class, then the named metrics, each as median
    and p90 with its sample count; a p90 without ten samples beyond it
    is printed as an error."""
    def p90(xs):
        p = pct(xs, 0.9)
        return f"{p:.3f} ms" if p is not None else f"error: needs >= 10 samples beyond p90 (n={len(xs)})"

    for cls, c in res["classes"].items():
        xs = c["samples_ms"]
        lines.append(f"class {cls}: n={len(xs)} p50={statistics.median(xs):.3f} ms p90={p90(xs)} "
                     f"cpu_p50={statistics.median(c['cpu_samples_ms']):.3f} ms"
                     + (f" steady={c['half_ratio']:.3f}" if c["half_ratio"] is not None else ""))
    for name, kind, src in NAMED[workload]:
        xs = res["classes"][src]["samples_ms"] if kind == "class" else res["extra_samples"][src]
        lines.append(f"{name}_p50_ms {statistics.median(xs):.3f} ms (n={len(xs)}, {kind} {src})")
        lines.append(f"{name}_p90_ms {p90(xs)}")
    samples = res["extra_samples"]
    if "meta_bytes_per_commit" in samples:
        lines.append(f"meta_bytes_per_commit {statistics.median(samples['meta_bytes_per_commit']):.0f} bytes "
                     f"(median, n={len(samples['meta_bytes_per_commit'])})")
    for k, v in res["extra"].items():
        lines.append(f"{k} {v:.4f}")
    if workload == "analytics_suite":
        suite = sum(statistics.median(c["samples_ms"]) for c in res["classes"].values()) / 1000
        lines.append(f"suite_s {suite:.3f} s (sum of per-query medians)")
    lines.append(f"failed_op_ratio {failed / attempted:.4f} ({failed}/{attempted})")


def execute(workload, seed, seconds, trace):
    """Builds, runs one workload in a fresh JVM and checks it. Returns
    the JVM's raw result, the report lines and the result line."""
    cp = build()
    work = os.path.join(WORK, f"run-{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--out", out]
    gen_s = 0.0
    if workload == "analytics_suite":
        sys.path.insert(0, HERE)
        import corpus
        t0 = time.monotonic()
        corpus.write(seed, os.path.join(work, "corpus"))
        gen_s = time.monotonic() - t0
        args += ["--data", os.path.join(work, "corpus")]
    log = os.path.join(WORK, f"{workload}-last.log")
    try:
        rc = run_jvm(cp, args, work, log)
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(open(log, errors="replace").read()[-6000:])
            die(f"benchmark JVM failed (exit {rc}); log in {log}")
        with open(out) as f:
            res = json.load(f)
        attempted, failed = res["attempted"], res["failed"]
        lines = []
        if workload == "analytics_suite":
            n, bad = oracle_check(os.path.join(work, "corpus"), os.path.join(work, "results"))
            attempted += n
            failed += len(bad)
            lines.append(f"oracle {n - len(bad)}/{n} queries match DuckDB" + (f"; wrong: {bad}" if bad else ""))
        if trace == 1:
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(WORK, f"{workload}-spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = {
        "setup_s": (res["setup_s"] + gen_s, "s"),
        "cpu_ms_per_op": (median_mean(res["classes"], "cpu_samples_ms"), "ms"),
    }
    report(workload, res, failed, attempted, lines)
    lines.append(f"setup: session {res['session_ms']:.0f} ms, seeded state {res['setup_reps_ms']} ms, "
                 f"warm-up cycle {res['warmup_ms']:.0f} ms"
                 + (f"  corpus: {gen_s:.2f} s" if gen_s else ""))
    lines.append(f"cycles: {res['cycles']} in {res['timed_s']:.3f} s "
                 f"({res['timed_ops'] / res['timed_s']:.4f} ops/s by wall clock)")
    lines.append(f"ops_per_s {1000 / median_mean(res['classes'], 'samples_ms'):.4f} 1/s "
                 "(each op at its class's median latency)")
    if trace == 1:
        cov = res["layers"]["trace.coverage"]
        lines.append(f"trace: layers cover {cov:.1%} of op wall time ({'ok' if cov >= 0.9 else 'BELOW'} 90 %); "
                     f"tracing overhead {res['layers']['trace.overhead_pct']:.1f} %")
    if trace == 1:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    for k, m in metrics.items():
        lines.append(f"{k} {m['value']:.6g} {m['unit']}")
    return res, lines, {"correct": failed == 0, "attempted": attempted, "failed": failed,
                        "metrics": metrics}


def main():
    # SIGTERM unwinds like Ctrl-C, so wait() reaps the JVM or sbt first
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    _, lines, result = execute(a.workload, a.seed, a.seconds, a.trace)
    print("\n".join(lines))
    print(json.dumps(result))


def unit_of(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes") or "bytes_" in name:
        return "bytes"
    if name.endswith(("_ratio", "coverage", "amplification")):
        return "ratio"
    if name.endswith("_pct"):
        return "%"
    return "count"


if __name__ == "__main__":
    main()
