#!/usr/bin/env python3
"""Layered benchmark of the graft engine.

Usage (from the repository root):
    python3 perfbench/run.py --workload llm_ops --seed 1 --seconds 15 --trace 0

Builds the engine together with the harness (`perfbench/build.sbt`) on
first use, generates the input tables (`perfbench/gen_data.py`), then
runs `perfbench.Harness` in one JVM: set-up, timed passes for
`--seconds`, and an output check of every query against its DuckDB
oracle (the canonicalisation of `scripts/oracle_check.py`). The last
stdout line is one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics of BENCHMARK.json with `--trace 0`,
its per-layer metrics with `--trace 1`). The traced run also writes its
span tree to `spans.jsonl` in the run directory. Everything the
benchmark writes goes under `perfbench/.build/`.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import io
import json
import os
import re
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
SCALE = 0.1       # the bench tables: 600,000 lineitem rows
DATA_SEED = 42    # inputs are fixed; --seed only orders the queries
JVM_TIMEOUT_S = 170

# Each workload is a slice of one module family of the query registry,
# small enough that a run (JVM start and warm-up, timed passes, output
# check) takes about a minute. BENCHMARK.json lists llm_ops and stream_ingest;
# star_sql, the plan-final relational family, is the control to run by hand.
WORKLOADS = {
    "star_sql": ["q1_weekly_units", "q2_top_products", "q3_top_suppliers",
                 "q4_weekday_seasonality", "q_window_rank",
                 "q_merge_upsert"],
    # q_kcore rather than q_pagerank for the iterative graph loop: the
    # pagerank oracle needs about 15 GB and three minutes in DuckDB at
    # this scale
    "llm_ops": ["q_cosine_topk", "q_kcore", "q_kmeans",
                "q_minhash_lsh_pairs", "q_token_counts"],
    # two write paths of similar latency, so the latency median does not
    # fall in a gap between them
    "stream_ingest": ["q_stream_merge", "q_stream_ann_ingest"],
}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_fingerprint():
    """Hash of everything the build compiles, to know when to rebuild."""
    h = hashlib.sha1()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(fingerprint):
    """Compile engine + harness with sbt; return the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["fingerprint"] == fingerprint:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" +
                   os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log("building engine and harness with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fingerprint, "classpath": lines[-1]}, f)
    return lines[-1]


def ensure_data():
    out = os.path.join(BUILD, f"data-sf{SCALE}-{DATA_SEED}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        sys.path.insert(0, HERE)
        import gen_data
        gen_data.write(out, SCALE, DATA_SEED)
        open(os.path.join(out, "_SUCCESS"), "w").close()
    return out


def oracle_failures(data, check_dir, names):
    """Names whose parquet result the repository's own checker does not
    pass (columns by name, rows sorted, exact values). Only a plain `✓`
    line passes: a mismatch, a 0-row result, a missing oracle or a result
    the checker never reached fails."""
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(ROOT, "scripts", "oracle_check.py"))
    oc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oc)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = oc.main(data, check_dir)
    passed = set()
    for line in buf.getvalue().splitlines():
        m = re.match(r"([✓✗]?)\s*(\S+): ", line.strip())
        if m and m.group(2) in names:
            if m.group(1) == "✓" and "VACUOUS" not in line:
                passed.add(m.group(2))
            else:
                log(line.strip())
    bad = [n for n in names if n not in passed]
    if rc != 0 and not bad:  # the checker failed on something else
        log(buf.getvalue()[-2000:])
        bad = list(names)
    return sorted(bad)


def commit():
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    for need in ("src/main/scala/graft/SparkEntry.scala",
                 "scripts/oracle_check.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a checkout of the repository")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    os.makedirs(BUILD, exist_ok=True)
    fingerprint = source_fingerprint()
    classpath = build(fingerprint)
    data = ensure_data()

    names = WORKLOADS[a.workload]
    work = os.path.join(BUILD, "runs",
                        f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # the heap the engine's own build gives it, and the default JIT
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    cmd = [java, f"-Xmx{heap}",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--work", work, "--queries", ",".join(names),
            "--commit", commit() or f"source-{fingerprint[:12]}"]
    load_start = os.getloadavg()[0]
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=work, stdout=jlog,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness exceeded {JVM_TIMEOUT_S} s")
    result_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {rc}")
    with open(result_path) as f:
        r = json.load(f)

    bad = oracle_failures(data, r["check_dir"], names)
    failed = r["failed"] + len(bad)
    r["layers"]["failed_ratio"] = failed / r["attempted"]
    r["provenance"].update(load1_start_host=load_start,
                           load1_end_host=os.getloadavg()[0],
                           driver_mem=heap, oracle_failures=bad)
    log("provenance " + json.dumps(r["provenance"], sort_keys=True))
    if r["failures"] or bad:
        log("failing queries: " + ", ".join(sorted(set(r["failures"]) | set(bad))))
    if a.trace:
        lay = r["layers"]
        log("self time per layer per pass (s): " + ", ".join(
            f"{k[5:-2]}={lay[k]:.3f}" for k in sorted(lay)
            if k.startswith("self.")))
        log("share of query wall time: " + ", ".join(
            f"{k[6:]}={lay[k]:.3f}" for k in sorted(lay)
            if k.startswith("share.")))
        log(f"tracing overhead: {lay['trace_overhead_s']:.3f} s per pass "
            f"(traced {lay['traced_pass_s']:.3f} s)")
    source = r["layers"] if a.trace else r["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in source]
    if missing:
        fail(f"harness did not report {missing}")
    for d in ("local", "scratch", "warehouse", "check", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    with open(os.path.join(work, "run.json"), "w") as f:
        json.dump(r, f, indent=1, sort_keys=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": r["attempted"],
        "failed": failed,
        "metrics": {m["name"]: {"value": source[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))


if __name__ == "__main__":
    main()
