#!/usr/bin/env python3
"""The repository's benchmark: times graft's Submit job (tree and RNN
branches) and a list of heavy registry rows end to end, checks their
outputs, and prints every metric by name with its unit.

    python3 perfbench/run.py --workload submit_tree --seed 1 --seconds 10 \
        --trace 0

Run it from the root of a checkout. It builds the program from source
into .bench_build/ (sbt, offline), generates the workload's inputs from
the seed, runs the JVM harness (perfbench/src), checks the outputs, and
prints one JSON object as its last line. `--trace 0` reports the
end-to-end metrics; `--trace 1` is a separate traced run that reports the
per-layer metrics. See perfbench/README.md for the metrics.
"""
import argparse
import concurrent.futures
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SEQ_MODEL = os.path.join(ROOT, "src/main/resources/graft/seq_model_tx.txt.gz")
TREE_MODEL = os.path.join(HERE, "artifacts", "tree_wide.txt")

# Input sizes. The driver runs each listed workload 22 times within a
# fixed budget, so a run (two set-ups, the cold job, at least three warm
# jobs, the checks) is sized to about a minute on 4 cores. The tree
# workload's MCC vocabulary is the artifact's: 60 codes, 122 pivot
# columns, above Spark's 100-field whole-stage codegen limit like the
# reference's full 309 codes. submit_rnn runs by hand only (README.md).
WORKLOADS = {
    "submit_tree": {"users": 120, "rows": 25_000},
    "submit_rnn": {"users": 8, "rows": 2_000},
    "registry_heavy": {"sf": 0.01},
}
REGISTRY_ROWS = ["d102_max_dup_spans", "d94_token_f1"]
SETUPS = 2          # JVM set-ups per run; setup_s is their median
RNN_SAMPLE = 3      # users checked against the pure-Python forward pass
# A fixed young generation keeps G1's heap sizing, and so peak RSS, from
# swinging between runs with GC timing.
JVM_MEMORY = ["-Xmx4g", "-Xmn768m"]

# The module opens Spark needs on JDK 17 outside spark-submit (the list
# build.sbt passes to forked runs).
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

END_TO_END = {"setup_s": "s", "cold_job_s": "s", "job_s": "s",
              "job_cpu_s": "s", "peak_rss_mb": "MB"}
LAYERS = ["schema.read", "pipeline.clean", "pipeline.features",
          "pipeline.score", "pipeline.submission", "schema.write"] + [
    f"registry.{r}" for r in REGISTRY_ROWS]
LAYER_UNITS = {"s": "s", "rows_out": "count", "tasks": "count",
               "task_s": "s", "shuffle_bytes": "bytes",
               "spill_bytes": "bytes"}
ENGINE_UNITS = {
    "spark.jobs": "count", "spark.driver_gap_s": "s", "spark.gc_s": "s",
    "spark.core_util": "ratio", "spark.peak_exec_mem_bytes": "bytes",
    "spark.codegen_fallbacks": "count", "plan.exchanges": "count",
    "plan.sorts": "count", "plan.windows": "count",
    "registry.materialized_blocks": "count", "trace.overhead_s": "s",
    "trace.job_s": "s", "error_rate": "ratio", "probe.start_s": "s",
    "probe.end_s": "s"}


def per_layer_units():
    units = {f"{layer}.{m}": u for layer in LAYERS
             for m, u in LAYER_UNITS.items()}
    units.update(ENGINE_UNITS)
    return units


def read(path):
    with open(path) as fh:
        return fh.read()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fingerprint():
    """Hash of every source the build reads."""
    h = hashlib.sha256()
    for base in ("src/main", "perfbench/src", "perfbench/build.sbt",
                 "perfbench/project/build.properties"):
        path = os.path.join(ROOT, base)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles program + harness (once per source state); returns the
    runtime classpath."""
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp = fingerprint()
    if os.path.exists(stamp) and read(stamp) == fp:
        return read(cp_file)
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log("building the program and the harness (sbt)")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"], cwd=HERE, env=env,
            stdout=out, stderr=subprocess.STDOUT, timeout=850).returncode
    lines = read(os.path.join(BUILD, "build.log")).splitlines()
    cps = [ln for ln in lines if "scala-2.13/classes" in ln and
           not ln.startswith("[")]
    if rc != 0 or not cps:
        sys.exit(f"build failed (rc={rc}), see .bench_build/build.log")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(fp)
    return cps[-1].strip()


def prepare_inputs(workload, seed):
    """Generates the workload's inputs for this seed (once per seed)."""
    import gen
    h = hashlib.sha256(json.dumps(WORKLOADS[workload]).encode())
    for f in (gen.__file__, TREE_MODEL):
        with open(f, "rb") as fh:
            h.update(fh.read())
    d = os.path.join(BUILD, "inputs", f"{workload}-{seed}-{h.hexdigest()[:12]}")
    done = os.path.join(d, "done")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        cfg = WORKLOADS[workload]
        if workload == "registry_heavy":
            gen.registry_tables(seed, cfg["sf"], d)
        else:
            codes = (gen.model_codes(TREE_MODEL) if workload == "submit_tree"
                     else gen.mcc_vocab())
            gen.transactions(seed, cfg["users"], cfg["rows"], codes,
                             os.path.join(d, "transactions.csv"))
        open(done, "w").close()
    return d


def jvm(classpath, args, log_path):
    # -XX:-UsePerfData: no hsperfdata file in /tmp; temp files stay in
    # the checkout
    cmd = (["java"] + JVM_MEMORY + [
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"] +
           [a for p in JDK17_OPENS for a in ("--add-opens",
                                             f"{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "graft.perfbench.Harness"] + args)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    t0 = time.time()
    with open(log_path, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                text=True)
        ready = None
        try:
            for line in proc.stdout:
                if line.startswith("PB_READY "):
                    ready = int(line.split()[1]) / 1e6 - t0
            rc = proc.wait(timeout=170)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or ready is None:
        sys.exit(f"harness failed (rc={rc}), see {log_path}")
    return ready


def check(workload, inputs, out, trace):
    """Failure messages for this run's outputs (empty: all correct). The
    traced run checks that its traced output equals the untraced one."""
    import check as chk
    if workload == "registry_heavy":
        return [] if trace else chk.registry_oracle(
            inputs, os.path.join(out, "cold"), REGISTRY_ROWS)
    csv_path = os.path.join(inputs, "transactions.csv")
    users = chk.read_input(csv_path)
    sub = chk.read_submission(os.path.join(out, "warm"))
    fails = chk.submit_invariants(
        sub, users, "tree" if workload == "submit_tree" else "rnn")
    if trace:
        if chk.read_submission(os.path.join(out, "traced")) != sub:
            fails.append("traced output differs from untraced")
        return fails
    if fails:
        return fails
    ref_file = os.path.join(inputs, "reference.json")
    if not os.path.exists(ref_file):
        if workload == "submit_tree":
            ref = chk.tree_reference(csv_path,
                                     os.path.join(out, "tree_replay.sql"))
        else:
            sample = chk.rnn_sample(users, RNN_SAMPLE)
            model = chk.unpack_seq_model(
                SEQ_MODEL, os.path.join(BUILD, "seq_model.txt"))
            with concurrent.futures.ProcessPoolExecutor(RNN_SAMPLE) as ex:
                ref = [r for part in ex.map(
                    chk.rnn_reference, [users] * len(sample),
                    [model] * len(sample), [[u] for u in sample])
                       for r in part]
        with open(ref_file, "w") as fh:
            json.dump(ref, fh)
    with open(ref_file) as fh:
        ref = [tuple(r) for r in json.load(fh)]
    return chk.compare(sub, ref)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft",
                                       "Submit.scala")):
        sys.exit("program sources not found: run from a full checkout")
    sys.path.insert(0, HERE)
    classpath = build()
    inputs = prepare_inputs(a.workload, a.seed)
    out = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    base = ["--workload", a.workload, "--input", inputs,
            "--model", TREE_MODEL, "--rows", ",".join(REGISTRY_ROWS),
            "--scratch", os.path.join(BUILD, "tmp")]
    setups = [jvm(classpath, base + ["--mode", "setup"],
                  os.path.join(out, f"setup{i}.log"))
              for i in range(SETUPS - 1)]
    setups.append(jvm(classpath, base + [
        "--mode", "run", "--out", out, "--seconds", str(a.seconds),
        "--trace", str(a.trace)], os.path.join(out, "jvm.log")))
    rec = json.loads(read(os.path.join(out, "record.json")))
    fails = check(a.workload, inputs, out, a.trace)
    attempted, failed = rec["attempted"], rec["failed"]
    if fails:
        failed = attempted
    rec.update(setup_s=statistics.median(setups), setups_s=setups,
               check_failures=fails, seed=a.seed, workload=a.workload,
               trace=a.trace)
    if a.trace:
        layer = rec["per_layer"]
        layer.update({"error_rate": failed / attempted,
                      "probe.start_s": rec["probe_start_s"],
                      "probe.end_s": rec["probe_end_s"]})
        metrics = {k: {"value": layer.get(k, 0.0), "unit": u}
                   for k, u in per_layer_units().items()}
    else:
        metrics = {k: {"value": rec[k], "unit": u}
                   for k, u in END_TO_END.items()}
    with open(os.path.join(out, "result.json"), "w") as fh:
        json.dump(rec, fh, indent=1)
    for k, m in metrics.items():
        v = m["value"]   # None when the job it measures failed
        print(f"{k:48s} {'-' if v is None else format(v, '.6g'):>16} "
              f"{m['unit']}")
    print(f"probe_start_s {rec['probe_start_s']:.4f} probe_end_s "
          f"{rec['probe_end_s']:.4f} setups_s "
          f"{' '.join(f'{s:.3f}' for s in setups)} warm_jobs "
          f"{len(rec['warm_jobs'])} failed {failed}/{attempted}")
    for f in fails + rec["errors"]:
        print(f"FAIL {f}")
    print(json.dumps({"correct": not fails and failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
