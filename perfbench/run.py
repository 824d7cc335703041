#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Builds the graft library and the harness from source (sbt, once per
checkout), generates the input tables with the repository's test data
generator (tools/restore_testdata.py, once per checkout), runs one
measured JVM process for the workload and prints, as the last line of
stdout, one JSON object: correct, attempted, failed and the metrics
BENCHMARK.json names (end_to_end with --trace 0, per_layer with
--trace 1). Lines before it are a readable report; the full report,
and for traced runs the spans, are written under perfbench/.state/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".state")
SF = "0.1"
GENERATOR = os.path.join(ROOT, "tools", "restore_testdata.py")
# a run must end within 180 s
JVM_TIMEOUT_S = 165
# units of the report-only metrics (not in BENCHMARK.json)
REPORT_UNITS = {"write_p50_ms": "ms", "write_tail_ms": "ms",
                "rows_written_s": "rows/s", "write_amp": "ratio"}

SERVE_LAYERS = [
    "kv.meta.resolve_ms", "kv.serve.get_ms", "kv.serve.get_absent_ms",
    "kv.serve.mget_ms_per_key", "kv.serve.range_ms", "kv.serve.range_rows",
    "index.serve.kv_get_ms", "index.serve.ft_ms", "kv.serve.jobs",
    "jvm.alloc_kb_per_op", "jvm.gc_s", "setup.session_s", "setup.bulk_load_s",
    "setup.index_kv_s", "setup.docs_load_s", "setup.index_fulltext_s",
    "setup.warmup_s", "trace.overhead_pct", "trace.spans"]
FAMILIES = ["relational", "kv", "index", "similarity", "dedup", "multimodal",
            "functions", "streaming", "connector"]
# The per-layer metrics each workload's traced run measures. A traced run
# fails if one of its own is missing; the per-layer metrics of other
# workloads read 0 in its result line (not exercised by this workload).
LAYERS = {
    "serve": SERVE_LAYERS + ["setup.cdc_merges_s"],
    # a traced ingest run ends with a read-only phase of the serve mix
    "ingest": SERVE_LAYERS + [
        "kv.commit.merge_rows_ms", "kv.commit.merge_df_ms", "kv.commit.jobs",
        "kv.commit.stages", "kv.commit.tasks", "kv.commit.task_s",
        "kv.commit.driver_s", "kv.commit.files_rewritten",
        "kv.commit.files_linked", "kv.commit.bytes_written",
        "index.maint.bytes_written", "kv.txn.commit_ms", "kv.txn.attempts",
        "kv.compact.ms", "kv.compact.bytes_rewritten",
        "kv.serve.get_under_write_ms", "spark.shuffle_bytes",
        "setup.index_bitmap_s"],
    "sql": [f"connector.{c}.{p}_ms"
            for c in ("point", "in", "range", "agg", "insert", "delete")
            for p in ("analyze", "plan", "exec")] +
           [f"connector.{c}.jobs"
            for c in ("point", "in", "range", "agg", "insert", "delete")] +
           ["connector.select.input_bytes", "setup.session_s",
            "setup.sql_catalog_s", "setup.sql_load_s", "setup.warmup_s",
            "trace.overhead_pct", "trace.spans"],
    "analytic": [f"{f}.{m}" for f in FAMILIES for m in ("s", "jobs")] +
                [f"streaming.batch.{b}_ms" for b in (
                    "queryPlanning", "getBatch", "addBatch", "walCommit",
                    "commitOffsets")] +
                ["analytic.driver_s", "spark.shuffle_bytes", "jvm.gc_s",
                 "setup.session_s", "setup.caches_s"] +
                [f"setup.first_pass.{f}_s" for f in FAMILIES] +
                ["trace.overhead_pct", "trace.spans"],
}
WORKLOADS = tuple(LAYERS)

# Spark 4 on JDK 17 outside spark-submit needs these module openings
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every input of the build, so an edited tree rebuilds."""
    h = hashlib.sha1()
    roots = [os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile library + harness; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: the graft sources (src/main/scala/graft) are "
                 "not in this checkout; nothing to build")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        sys.exit("perfbench: sbt and java are required")
    os.makedirs(STATE, exist_ok=True)
    cp_file = os.path.join(STATE, "classpath.txt")
    digest = source_digest()
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            stamp, cp = fh.read().split("\n", 1)
        if stamp == digest:
            return cp.strip()
    log("building graft and the harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    cp = lines[-1].strip() if lines else ""
    if p.returncode != 0 or "perfbench" not in cp or " " in cp:
        errs = [l for l in lines if l.startswith("[error]")]
        sys.stderr.write("\n".join(errs[:40] or lines[-40:]) + "\n")
        sys.exit(f"perfbench: build failed (sbt exit {p.returncode})")
    log(f"built in {time.time() - t0:.0f}s")
    with open(cp_file, "w") as fh:
        fh.write(digest + "\n" + cp)
    return cp


def data_dir():
    """The sf0.1 input tables, generated once per checkout (and again
    when the generator changes) by the repository's deterministic test
    data generator."""
    if not os.path.isfile(GENERATOR):
        sys.exit(f"perfbench: the test data generator "
                 f"({os.path.relpath(GENERATOR, ROOT)}) is not in this checkout")
    with open(GENERATOR, "rb") as fh:
        tag = hashlib.sha1(fh.read()).hexdigest()[:12]
    d = os.path.join(STATE, f"data-sf{SF}-{tag}")
    done = os.path.join(d, "_done")
    if not os.path.exists(done):
        log(f"generating sf{SF} input tables")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        subprocess.run([sys.executable, GENERATOR, SF, d], check=True,
                       stdout=subprocess.DEVNULL, timeout=600)
        open(done, "w").close()
    return d


def run_jvm(cp, args, work, out):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dgraftbench.home={HERE}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data_dir(), "--work", work, "--out", out]
    with open(os.path.join(out, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                             cwd=work)
        try:
            stdout, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit(f"perfbench: run exceeded {JVM_TIMEOUT_S}s")
    for line in reversed(stdout.splitlines()):
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):]), p.returncode
    sys.stderr.write(stdout[-2000:])
    sys.exit(f"perfbench: the run printed no result (exit {p.returncode}); "
             f"see {os.path.join(out, 'jvm.log')}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    listed = [w["name"] for w in spec["workloads"]]
    unmeasured = [m["name"] for m in spec["per_layer"]
                  if not any(m["name"] in LAYERS[w] for w in listed)]
    if unmeasured:
        sys.exit("perfbench: no listed workload measures " + ", ".join(unmeasured))
    cp = build()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out = os.path.join(STATE, "reports", tag)
    work = os.path.join(STATE, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    try:
        res, code = run_jvm(cp, args, work, out)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    want = spec["per_layer"] if args.trace else spec["end_to_end"]
    src = res["layers"] if args.trace else res["e2e"]
    metrics, missing, elsewhere = {}, [], []
    for m in want:
        v = src.get(m["name"])
        if v is None and args.trace and m["name"] not in LAYERS[args.workload]:
            v = 0.0
            elsewhere.append(m["name"])
        if v is None:
            missing.append(m["name"])
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    failed = res["threw"] + res["wrong"]
    attempted = max(res["attempted"], 1)
    correct = failed == 0 and not missing and code == 0

    with open(os.path.join(out, "report.json"), "w") as fh:
        json.dump(res, fh, indent=1, sort_keys=True)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    units.update(REPORT_UNITS)
    if args.trace:
        with open(os.path.join(out, "layers.tsv"), "w") as fh:
            fh.write("metric\tvalue\tunit\n")
            for m in spec["per_layer"]:
                if m["name"] in metrics and m["name"] not in elsewhere:
                    fh.write(f"{m['name']}\t{metrics[m['name']]['value']}\t{m['unit']}\n")
            for k, v in sorted(res["info"].items()):
                if k.startswith("self_s."):
                    fh.write(f"{k}\t{v}\ts\n")
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}")
    print(f"  fail_ratio {failed / attempted:.6f} ratio "
          f"({failed} of {attempted} ops; threw {res['threw']}, "
          f"wrong {res['wrong']})")
    for k, v in sorted({**res["e2e"], **(res["layers"] if args.trace else {})}.items()):
        print(f"  {k} {v} {units.get(k, '')}".rstrip())
    for k, v in res["info"].items():
        print(f"  # {k}: {v}")
    for e in res["errors"]:
        print(f"  ! {e}")
    if elsewhere:
        print(f"  # measured by other workloads (0 here): {', '.join(elsewhere)}")
    if missing:
        print(f"  ! metrics not measured: {', '.join(missing)}")
    print(f"  report: {os.path.relpath(out, ROOT)}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
