#!/usr/bin/env python3
"""graft's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program from
source (sbt, through the harness build in perfbench/jvm, which depends on
the root build) and caches the classpath under .perfbench/; later runs
launch the JVM directly. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics; with
--trace 1 they are its per_layer metrics, from a separate traced pass.

    python3 perfbench/run.py --smoke        # sf0.001 check of every name
    python3 perfbench/run.py --record SF    # re-record expected outputs

Fixture tables are read from $GRAFT_FIXTURES/<sf>/ (default ~/testdata).
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("batch_floor", "serve_neardup")
TARGET_SF = "sf0.1"
SMOKE_SF = "sf0.001"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
JVM_HEAP = "4g"
# the JDK 17 module openings spark-submit would add (as in the root build.sbt)
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


def fail(msg):
    log(f"error: {msg}")
    sys.exit(1)


def build_inputs():
    """Every file the build reads."""
    files = []
    for top in ("src/main", "project", "perfbench/jvm"):
        base = os.path.join(ROOT, top)
        for d, subdirs, names in os.walk(base):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    files.append(os.path.join(BENCH, "jvm", "project", "build.properties"))
    files.append(os.path.join(ROOT, "build.sbt"))
    return sorted(set(f for f in files if os.path.isfile(f)))


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout or
    interrupt and always waits for it to end."""
    proc = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except BaseException:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        raise


def classpath():
    """Builds the program and harness if any build input changed since
    the cached build; returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        fail(f"no graft sources to build under {ROOT}")
    stamp_path = os.path.join(WORK, "build.json")
    fp = fingerprint(build_inputs())
    if os.path.isfile(stamp_path):
        with open(stamp_path) as fh:
            stamp = json.load(fh)
        if stamp.get("fingerprint") == fp:
            return stamp["classpath"]
    log("building the program and the harness (sbt)")
    t0 = time.time()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    # resolve from the local caches only, as the repository's own test
    # command does, unless the caller configured sbt otherwise
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx4g")
    try:
        code, out = run_bounded(cmd, os.path.join(BENCH, "jvm"), BUILD_TIMEOUT_S,
                                stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, text=True, env=env)
    except subprocess.TimeoutExpired:
        fail(f"build exceeded {BUILD_TIMEOUT_S} s")
    lines = out.strip().splitlines()
    if code != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (exit {code})")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp_path, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": lines[-1].strip()}, fh)
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1].strip()


def jvm(cp, args, timeout=RUN_TIMEOUT_S):
    """One harness JVM, its scratch confined to a per-run directory under
    .perfbench/ that is removed when it exits. Returns the exit code and
    the result file's contents (None if it wrote none)."""
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    result = os.path.join(run_dir, "result.json")
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        f"-Dspark.local.dir={os.path.join(run_dir, 'tmp')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        # engine plan-shape checks look for staged paths in the plan
        # string; Spark abbreviates scan locations past this many
        # characters, which a deep checkout path would exceed
        "-Dspark.sql.maxMetadataStringLength=1000",
        "-cp", cp, "perfbench.Main",
        "--bench-dir", BENCH,
        "--fixtures", os.environ.get("GRAFT_FIXTURES",
                                     os.path.expanduser("~/testdata")),
        "--result", result,
    ] + args
    try:
        code, _ = run_bounded(cmd, run_dir, timeout,
                              stdout=sys.stderr, stdin=subprocess.DEVNULL)
        out = None
        if os.path.isfile(result):
            with open(result) as fh:
                out = fh.read()
        return code, out
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {timeout} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run_workload(cp, workload, seed, seconds, trace, sf, extra=()):
    """One run; returns its result and the name prefixes of the
    per-layer metrics the workload leaves idle."""
    code, text = jvm(cp, ["--workload", workload, "--seed", str(seed),
                          "--seconds", str(seconds), "--trace", str(trace),
                          "--sf", sf, "--spec", os.path.join(ROOT, "BENCHMARK.json"),
                          "--spans", os.path.join(WORK, f"spans-{workload}.jsonl")]
                     + list(extra))
    if code != 0 or text is None:
        fail(f"{workload} exited with {code} and no result")
    out = json.loads(text)
    if sorted(out["result"]) != ["attempted", "correct", "failed", "metrics"]:
        fail(f"malformed result {out}")
    return out["result"], out["idle"]


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


# per-layer metrics that can read 0 on a layer that ran: nothing spilled,
# waited, collected or was dropped, no task without input, a phase
# shorter than the 1 ms the streaming progress report resolves, a span
# wholly covered by its children
MAY_READ_ZERO = {
    "sched.idle_task_ratio", "task.gc_ms", "jvm.gc_ms",
    "shuffle.fetch_wait_ms", "shuffle.spill_bytes", "store.dropped_rows",
    "source.latest_offset_ms", "source.get_batch_ms", "source.lag_batches_max",
    "door.compactions", "door.outstanding_deltas_max",
    "self.epoch_ms", "self.epoch.latest_offset_ms", "self.epoch.get_batch_ms",
    "self.get_ms", "trace.overhead_ms", "trace.overhead_frac",
}


def smoke(cp):
    """Every workload at sf0.001, untraced and traced: every declared
    metric present with its unit, no failed operation, and no metric of
    a layer the workload exercises reading 0 unless it may."""
    bad = []
    for w in WORKLOADS:
        for trace in (0, 1):
            out, idle = run_workload(cp, w, 1, 1, trace, SMOKE_SF, ["--check-prep", "1"])
            got = out["metrics"]
            for name, unit in declared_metrics(trace).items():
                if name not in got or got[name]["unit"] != unit:
                    bad.append(f"{w} trace={trace}: {name} missing or not in {unit}")
                elif got[name]["value"] == 0 and name not in MAY_READ_ZERO and \
                        not any(name.startswith(p) for p in idle):
                    bad.append(f"{w} trace={trace}: {name} reads 0 on an exercised layer")
            if out["failed"] != 0 or not out["correct"]:
                bad.append(f"{w} trace={trace}: {out['failed']} failed")
            log(f"smoke {w} trace={trace}: {len(got)} metrics, "
                f"{out['attempted']} attempted, {out['failed']} failed")
    for b in bad:
        log(f"SMOKE FAIL {b}")
    print(json.dumps({"smoke": "fail" if bad else "pass", "problems": len(bad)}))
    return 1 if bad else 0


def main():
    # a terminated run still stops its JVM (run_bounded's cleanup)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record", metavar="SF")
    a = ap.parse_args()
    if not (a.smoke or a.record or a.workload):
        ap.error("one of --workload, --smoke or --record is required")
    cp = classpath()
    if a.smoke:
        sys.exit(smoke(cp))
    if a.record:
        out = os.path.join(BENCH, "expected", f"{a.record}.json")
        sys.exit(jvm(cp, ["--sf", a.record, "--record", out], timeout=4 * 3600)[0])
    out, _ = run_workload(cp, a.workload, a.seed, a.seconds, a.trace, TARGET_SF)
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
