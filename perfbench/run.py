#!/usr/bin/env python3
"""graft benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark driver from source with sbt (offline) into `.bench_build/`
(or `$CARGO_TARGET_DIR`); later runs reuse the build while the sources
are unchanged. Each run then:

  1. starts one driver JVM on local[nproc] with one closed-loop client
     (graftbench.Main): untimed set-up (fixtures, warm-up, the checked
     pass), then timed passes for `--seconds` seconds of timed work,
     checking every output,
  2. compares the checked pass with the DuckDB oracles
     (SparkEntry.oracleSql) by running tools/check_oracle.py on it,
  3. prints every metric by name with its unit, and as the last line one
     JSON object {"correct", "attempted", "failed", "metrics"}: the
     end-to-end metrics with --trace 0, the per-layer ones with --trace 1.

Workloads:
  alerts_nightly  AlertRegistry.runAll over copies of the fixture world:
                  a re-run of the day that created the month's history
  corpus_crawl    4 registry queries, one per graph, dedup,
                  crawl-stream and event-stream module, over the
                  reference sf0.01 tables in perfbench/inputs/

The seed orders the queries in each pass and picks the run-day.

The run record (every operation, failure and input fact) is written to
`<build dir>/results/`; all scratch files of a run are removed.
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

sys.dont_write_bytecode = True  # write nothing outside the run's scratch files

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("alerts_nightly", "corpus_crawl")
# Input sizes, fixed so runs of different commits are comparable.
CORPUS_DATA = os.path.join(HERE, "inputs", "sf0.01")  # 500 documents, 10k events
ALERT_COPIES = 2         # HarnessScale.scaleWorld copies of the fixture world
HEAP = "3g"
DEADLINE_S = 170         # whole run, build excluded

END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s"}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ---------------------------------------------------------------- build

def build_inputs():
    """Files whose change requires a rebuild."""
    files = []
    for top in ("src/main", "perfbench/src", "project"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            if "target" in d.split(os.sep):
                continue
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    files += [os.path.join(ROOT, p) for p in (
        "build.sbt", "perfbench/build.sbt",
        "src/test/scala/graft/DomainFixtures.scala",
        "src/test/scala/graft/tools/HarnessScale.scala")]
    missing = [f for f in files if not os.path.isfile(f)]
    if missing or not any(f.endswith(".scala") and "/src/main/" in f for f in files):
        sys.exit(f"perfbench: engine sources not found under {ROOT} "
                 f"(run from a full checkout): {missing[:3]}")
    return sorted(set(files))


def build(build_dir):
    """Compile the engine and the driver; return the runtime classpath."""
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(build_dir, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            old_stamp, cp = fh.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    log("building engine and benchmark driver (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env["SBT_OPTS"] = " ".join(
        ["-Xmx2g", "-XX:-UsePerfData", "-Dsbt.offline=true", "-Dsbt.server.autostart=false"] +
        (["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
         if os.path.exists(repos) else []))
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        sys.exit("perfbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + cp + "\n")
    return cp


# ----------------------------------------------------------------- JVMs

def run_jvm(cp, main_args, run_dir, deadline, n_cores, log_name):
    """Run one JVM to completion inside `run_dir`, killed at `deadline`."""
    for d in ("warehouse", "tmp", "local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"] +
           [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            f"-Dspark.local.dir={run_dir}/local",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp] + main_args)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(n_cores), SPARK_LOCAL_DIRS=f"{run_dir}/local")
    with open(os.path.join(run_dir, log_name), "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except BaseException as e:  # deadline, SIGTERM or ^C: never leave the JVM behind
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            if isinstance(e, subprocess.TimeoutExpired):
                raise RuntimeError(f"{main_args[0]} exceeded the run deadline") from None
            raise
    if p.returncode != 0:
        with open(os.path.join(run_dir, log_name)) as fh:
            sys.stderr.write(fh.read()[-3000:])
        raise RuntimeError(f"{main_args[0]} exited with {p.returncode}")


# --------------------------------------------------------------- checks

def oracle_failures(data, check_dir):
    """Run tools/check_oracle.py on the checked pass; one failure record
    per query it does not PASS (its FAIL and SKIP lines)."""
    p = subprocess.run([sys.executable, "-B", os.path.join(ROOT, "tools", "check_oracle.py"),
                        data, check_dir], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=120)
    failures = []
    for line in p.stdout.splitlines():
        verdict, _, rest = line.partition(" ")
        if verdict in ("FAIL", "SKIP"):
            name, _, msg = rest.partition(": ")
            failures.append({"op": f"check:{name}", "class": "OracleMismatch" if verdict == "FAIL"
                             else "MissingOracle", "message": msg[:500]})
        elif line.startswith("  ") and failures:  # a FAIL's first differing rows
            failures[-1]["message"] = (failures[-1]["message"] + "\n" + line.strip())[:1000]
    if p.returncode != 0 and not failures:
        failures.append({"op": "check:oracle", "class": "CheckerError",
                         "message": p.stdout[-500:]})
    return failures


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                                os.path.join(ROOT, ".bench_build"))
    cp = build(build_dir)

    t_start = time.time()
    deadline = t_start + DEADLINE_S
    n_cores = cores()
    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    results = os.path.join(build_dir, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{a.workload}-s{a.seed}-t{a.trace}-{int(t_start)}")
    try:
        out = os.path.join(run_dir, "out")
        run_jvm(cp, ["graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", CORPUS_DATA,
                     "--out", out, "--cores", str(n_cores), "--copies", str(ALERT_COPIES)],
                run_dir, deadline, n_cores, "driver.log")
        with open(os.path.join(out, "result.json")) as fh:
            rec = json.load(fh)
        failures = rec["failures"]
        if a.workload == "corpus_crawl":
            failures += oracle_failures(CORPUS_DATA, os.path.join(out, "check"))
        spans = os.path.join(out, "spans.jsonl")
        rec["setup_s"] = rec["timed_start_epoch_ms"] / 1000.0 - t_start
        rec["failures"] = failures
        rec["args"] = vars(a)
        with open(stem + ".json", "w") as fh:
            json.dump(rec, fh, indent=1)
        if os.path.exists(spans):
            shutil.move(spans, stem + ".spans.jsonl")
    except RuntimeError as e:
        sys.exit(f"perfbench: {e} (log: {stem}.log)")
    finally:
        log_file = os.path.join(run_dir, "driver.log")
        if os.path.exists(log_file):
            shutil.move(log_file, stem + ".log")
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = len({f["op"] for f in failures})
    attempted = rec["attempted"]
    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(rec["per_layer"].items())}
    else:
        values = dict(rec["end_to_end"], setup_s=rec["setup_s"])
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    for f in failures:
        print(f"FAILED {f['op']}: {f['class']}: {f['message']}")
    print(f"workload={a.workload} seed={a.seed} nproc={rec['nproc']} heap_mb={rec['heap_mb']} "
          f"calib_s={rec['calib_s']:.3f} passes={len(rec['passes'])} "
          f"op_p50_s={num(rec['end_to_end']['op_p50_s'], '.4f')} op_samples={rec['op_samples']}")
    for k, m in metrics.items():
        print(f"{k} = {num(m['value'], '.6g')} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def num(v, fmt):
    """Format a record value; the record writes NaN (e.g. the median of
    no successful operation) as null."""
    return "nan" if v is None else format(v, fmt)


def layer_unit(name):
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"), ("_frac", "ratio"),
                         ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    main()
