#!/usr/bin/env python3
"""Run one perfbench workload against the program in this checkout.

    python3 perfbench/run.py --workload dml_churn --seed 1 --seconds 20 --trace 0

Run it from the checkout root. The first run builds the program and the
harness from source with sbt (perfbench/build.sbt) into target/ and
.bench_build/; later runs reuse the build while the sources are
unchanged. Each run works in its own directory under .bench_tmp/ (lake
warehouse, checkpoints, generated inputs, JVM temp files), removed when
the run ends, and leaves its run record and spans in .bench_out/.
The last line of standard output is the result object; the exit code
is non-zero when an output check failed or the run could not finish.
The timed window is a fixed amount of work (README.md); --seconds is
passed on and recorded, not used to size it.

PERFBENCH_CORES sets the local[N] parallelism (default min(4, nproc));
a value above nproc is refused.
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

WORKLOADS = ("dml_churn", "llm_ingest")
HEAP = "-Xmx3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    """Every file the build reads, in a stable order."""
    files = [os.path.join(root, p) for p in
             ("build.sbt", "project/build.properties",
              "perfbench/build.sbt", "perfbench/project/build.properties")]
    for top in ("src/main", "perfbench/src/main"):
        for d, _, names in sorted(os.walk(os.path.join(root, top))):
            files += [os.path.join(d, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def digest(files, content):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        if content:
            with open(f, "rb") as fh:
                h.update(fh.read())
        else:
            st = os.stat(f)
            h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


def revision(root, files):
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0 and os.path.isdir(os.path.join(root, ".git")):
            return "git:" + out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-sha256:" + digest(files, content=True)[:16]


def build(root, build_dir, files):
    stamp = os.path.join(build_dir, "stamp")
    want = digest(files, content=False)
    launch = [os.path.join(build_dir, n) for n in ("classpath.txt", "jvm_options.txt")]
    if all(os.path.isfile(p) for p in launch + [stamp]):
        with open(stamp) as fh:
            if fh.read().strip() == want:
                return
    sbt_tmp = os.path.join(build_dir, "tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS") or
                       "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")) + \
        f" -Djava.io.tmpdir={sbt_tmp} -Dsbt.server.autostart=false -XX:-UsePerfData"
    print("perfbench: building program and harness with sbt", file=sys.stderr)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchLaunch"],
                       cwd=os.path.join(root, "perfbench"), env=env,
                       stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not all(os.path.isfile(p) for p in launch):
        fail("build failed", 3)
    with open(stamp, "w") as fh:
        fh.write(want)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "perfbench", "run.py")):
        fail("run from the checkout root")
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are not here", 3)
    nproc = os.cpu_count() or 1
    cores = int(os.environ.get("PERFBENCH_CORES", min(4, nproc)))
    if not 1 <= cores <= nproc:
        fail(f"PERFBENCH_CORES={cores} is outside [1, nproc={nproc}]")

    files = source_files(root)
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    build(root, build_dir, files)
    with open(os.path.join(build_dir, "classpath.txt")) as fh:
        classpath = fh.read().strip()
    with open(os.path.join(build_dir, "jvm_options.txt")) as fh:
        # the program's own JVM options, with the harness's heap size;
        # explicit GCs stop the world so the live-heap probe is exact
        jvm = [o for o in fh.read().split("\n") if o and not o.startswith("-Xmx")]
    jvm += [HEAP, "-XX:-ExplicitGCInvokesConcurrent", "-XX:-UsePerfData"]

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out_dir = os.path.join(root, ".bench_out")
    tmp = os.path.join(root, ".bench_tmp", f"{tag}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(os.path.join(tmp, "jvm"), exist_ok=True)
    env = dict(os.environ, PERFBENCH_REVISION=revision(root, files))
    cmd = (["java"] + jvm + [f"-Djava.io.tmpdir={tmp}/jvm", "-cp", classpath,
                             "graft.perfbench.Main",
                             "--workload", a.workload, "--seed", str(a.seed),
                             "--seconds", str(a.seconds), "--trace", str(a.trace),
                             "--cores", str(cores), "--tmp", tmp, "--out", out_dir])
    log_path = os.path.join(out_dir, f"{tag}.log")
    started = time.time()
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=subprocess.PIPE,
                                 stderr=log, stdin=subprocess.DEVNULL, text=True,
                                 start_new_session=True)
            try:
                out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S} s; log in {log_path}", 4)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [line for line in out.splitlines() if line.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"no result (exit {p.returncode}); log in {log_path}", 5)
    print(f"perfbench: {tag} took {time.time() - started:.1f} s", file=sys.stderr)
    print(json.dumps(result))
    sys.exit(p.returncode if p.returncode != 0 else (0 if result["correct"] else 1))


if __name__ == "__main__":
    main()
