#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <pipeline|ops>
      --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source on first use (see
build.py), then runs perfbench.Main in one JVM on local[N], N = min(4,
nproc). The last line is one JSON object with the keys correct,
attempted, failed and metrics. Everything the run writes stays under
.bench_build/ in the repository root.

Developer modes (not used by benchmark runs):
  --mode record     rewrite perfbench/goldens from an unpermuted run
  --mode validate   check the goldens against independent paths
                    (use validate.py, which adds the DuckDB checks)
"""
import argparse
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
# a run gets 180 s after the build; keep room for shutdown
RUN_TIMEOUT_S = 165

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


# The JVM compiles with C1 only. With C2, whole runs read 10-25 % faster
# or slower at random (C2 compiles from the profile each run happens to
# collect) and pass times kept falling for a minute; with C1 they level
# off after one pass. C1 alone defaults to a 48 MB code cache, which this
# workload fills (the JVM then stops compiling), hence the larger cache.
JIT_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m"]


def java_cmd(classpath, harness_args):
    tmp = os.path.join(build.OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xms3g", "-Xmx3g"] + JIT_FLAGS + [f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", os.pathsep.join(classpath), "perfbench.Main"] + harness_args)


def source_ids():
    """The git commit when the checkout has one, and the build's source stamp."""
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = ""
    with open(build.STAMP) as fh:
        return {"PERFBENCH_COMMIT": commit or "none", "PERFBENCH_SOURCE": fh.read().strip()}


def run_harness(classpath, harness_args, timeout_s):
    """Run the harness JVM in its own process group; return (code, stdout lines, stderr)."""
    # SPARK_LOCAL_DIRS would move shuffle files out of the checkout, and
    # SPARK_GRAFT_CONF would change the session's configuration
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_CONF")}
    proc = subprocess.Popen(java_cmd(classpath, harness_args), cwd=ROOT,
                            env={**env, **source_ids()},
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, err = proc.communicate()
        sys.stderr.write(f"run: harness exceeded {timeout_s} s and was killed\n")
        return 124, out.splitlines(), err
    return proc.returncode, out.splitlines(), err


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["pipeline", "ops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--mode", choices=["bench", "record", "validate"], default="bench")
    ap.add_argument("--data", default=os.path.join("perfbench", "data", "sf0.01"))
    ap.add_argument("--goldens", default=os.path.join("perfbench", "goldens"))
    a = ap.parse_args()

    code, lines, err = run_harness(
        build.build(),
        ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
         "--trace", a.trace, "--mode", a.mode, "--data", a.data, "--goldens", a.goldens],
        RUN_TIMEOUT_S if a.mode == "bench" else 3600)
    for line in err.splitlines():
        if line.startswith("[perfbench]") or "Exception" in line or "error" in line.lower():
            sys.stderr.write(line + "\n")
    for line in lines:
        print(line)
    if code != 0:
        sys.stderr.write(f"run: harness exited with code {code}\n")
        sys.exit(code or 1)
    if a.mode == "bench":
        result = json.loads(lines[-1]) if lines else None
        if not result or set(result) != {"correct", "attempted", "failed", "metrics"}:
            sys.stderr.write("run: harness printed no result line\n")
            sys.exit(1)


if __name__ == "__main__":
    main()
