#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload query_floor|query_work|pta_pipeline \
        --seed N --seconds T --trace 0|1

Run it from the repository root. It builds graft and the harness from
source (perfbench/build.sbt) on first use, generates the workload's inputs
into perfbench/.work (cached by data seed or --seed), runs the JVM harness
(perfbench.Main) and prints, as the last line of standard output, one JSON
object with the keys correct, attempted, failed and metrics. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones
(BENCHMARK.json lists both). Everything it writes stays under perfbench/.work
and perfbench/target; see perfbench/README.md.

Options for the self-test only: --size tiny (sf0.001 tables, 2 pulsars, a
short chain), --expected FILE (use another expected-digest file) and
--tamper-noise (corrupt a noise file between write and read-back).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src", "main", "scala")
DEADLINE_S = 175.0
BUILD_DEADLINE_S = 880.0

WORKLOADS = {
    # name: (table scale factor for --size full, query list, nominal seconds
    # of one warm pass on 4 cores, settling passes)
    "query_floor": ("0.01", "query_floor.txt", 2.25, 6),
    "query_work": ("0.1", "query_work.txt", 18.0, 1),
    "pta_pipeline": (None, None, 6.0, 2),
}
PTA_SIZES = {"full": ["--psrs", "5", "--toas", "240", "--chain", "10000"],
             "tiny": ["--psrs", "2", "--toas", "60", "--chain", "2000"]}

# CICompilerCount: more JIT compiler threads than the 4-core default (3), so
# the compile queue drains during the settling passes instead of the
# measured ones; it changes how fast the JIT converges, not the code it
# converges to.
JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xmx3g", "-XX:CICompilerCount=8", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, log_path, timeout, cwd=None, env=None):
    """Run cmd in its own process group, stdout+stderr to log_path; kill the
    whole group on timeout and wait for it. Returns the exit code."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def tree_hash(*roots):
    h = hashlib.sha256()
    for root in roots:
        for d, dirs, files in sorted(os.walk(root)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(p[len(root):].encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def build(started):
    """Compile graft plus the harness once per source state; returns the
    runtime classpath."""
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    key = tree_hash(GRAFT_SRC, HARNESS_SRC) + tree_hash(os.path.join(HERE, "project")) + \
        hashlib.sha256(open(os.path.join(HERE, "build.sbt"), "rb").read()).hexdigest()
    if os.path.exists(stamp) and open(stamp).read() == key and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"], log,
                     BUILD_DEADLINE_S - (time.time() - started), cwd=HERE, env=env)
    lines = open(log).read().splitlines()
    if code != 0:
        print("\n".join(lines[-30:]), file=sys.stderr)
        fail(f"build failed (exit {code}); log in {log}")
    cp = [l for l in lines if l.startswith("/") and "classes" in l][-1]
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(key)
    return cp


def generated(kind, key, gen_args, started, deadline):
    """Inputs under .work/<kind>/<key>, generated once; a `done` marker
    holding the generator's hash guards against partial output."""
    out = os.path.join(WORK, kind, key)
    script = gen_args[0]
    marker = os.path.join(out, "done")
    ghash = hashlib.sha256(open(script, "rb").read()).hexdigest()
    if os.path.exists(marker) and open(marker).read() == ghash:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    log = os.path.join(WORK, f"gen-{kind}-{key}.log")
    code = run_group([sys.executable] + gen_args + ["--out", out], log,
                     deadline - (time.time() - started))
    if code != 0:
        fail(f"input generation failed (exit {code}); log in {log}")
    with open(marker, "w") as fh:
        fh.write(ghash)
    return out


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--expected")
    ap.add_argument("--tamper-noise", action="store_true")
    a = ap.parse_args(argv)
    started = time.time()

    if not os.path.exists(os.path.join(GRAFT_SRC, "graft", "SparkEntry.scala")):
        fail(f"graft's sources are missing ({GRAFT_SRC}); run from a full checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")
    os.makedirs(WORK, exist_ok=True)
    fresh_build = not os.path.exists(os.path.join(WORK, "build.stamp"))
    cp = build(started)
    deadline = BUILD_DEADLINE_S if fresh_build else DEADLINE_S

    run_dir = os.path.join(WORK, "run", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    sf, qlist, nominal, settle = WORKLOADS[a.workload]
    # K, a fixed pass count per (workload, --seconds): about --seconds of
    # measured warm passes, at least one
    warm_passes = max(1, round(a.seconds / nominal))
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--settling-passes", str(settle), "--warm-passes", str(warm_passes),
            "--trace", str(a.trace), "--work", run_dir,
            "--out", os.path.join(run_dir, "result.json")]
    if a.workload == "pta_pipeline":
        data = generated("pta", f"seed{a.seed}-{a.size}",
                         [os.path.join(HERE, "gen_pta.py"), "--seed", str(a.seed)]
                         + PTA_SIZES[a.size], started, deadline)
        if a.tamper_noise:
            args.append("--tamper-noise")
    else:
        if a.size == "tiny":
            sf = "0.001"
        data = generated("tables", f"sf{sf}",
                         [os.path.join(HERE, "gen_tables.py"), "--sf", sf], started, deadline)
        args += ["--queries", os.path.join(HERE, "workloads", qlist),
                 "--expected", a.expected or os.path.join(HERE, "expected", f"sf{sf}.tsv")]
    args += ["--data", data]

    tmp = os.path.join(run_dir, "tmp")
    cmd = ["java", "-cp", cp] + JVM_OPTS + [
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "perfbench.Main"] + args
    log = os.path.join(run_dir, "jvm.log")
    code = run_group(cmd, log, deadline - (time.time() - started), cwd=run_dir)
    out_lines = [l for l in open(log).read().splitlines()
                 if not l.startswith(("WARNING", "Using Spark", "Setting default log level",
                                      "To adjust logging level"))
                 and " INFO " not in l and " WARN " not in l]
    print("\n".join(out_lines))
    result_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_path):
        fail(f"harness exited with {code} after {time.time() - started:.0f}s; log in {log}")
    result = json.load(open(result_path))
    check_metric_names(result, a.trace)
    print(f"total run time {time.time() - started:.1f}s")
    print(json.dumps(result))


def check_metric_names(result, trace):
    """The printed metrics must be exactly the ones BENCHMARK.json lists."""
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        return
    spec = json.load(open(spec_path))
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        fail(f"metrics {sorted(set(got.items()) ^ set(want.items()))} differ from BENCHMARK.json")


if __name__ == "__main__":
    main(sys.argv[1:])
