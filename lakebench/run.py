"""Lake benchmark runner: builds the program from source, runs one workload
in a fresh JVM and prints the result as the last line of stdout.

    python3 lakebench/run.py --workload ingest|lookup --seed 1 \
        --seconds 10 --trace 0|1
    python3 lakebench/run.py --selftest

--trace 0 prints the end-to-end metrics; --trace 1 adds a traced window and
prints the per-layer metrics. See lakebench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ingest", "lookup")
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
JAVA_OPTS = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
    "-Xmx3g", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"]
DEADLINE_S = 170


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def command(work, args):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return (["java"] + JAVA_OPTS +
            ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-cp", build.classpath(), "lakebench.Main"] + args)


def java(work, args, log, timeout):
    with open(log, "a") as err:
        r = subprocess.run(command(work, args), stdout=subprocess.PIPE, stderr=err, text=True,
                           timeout=max(10, timeout), cwd=build.ROOT)
    return r.returncode, r.stdout.splitlines()


def cpu_steal_s():
    """Seconds of CPU time the hypervisor took from this machine (all CPUs)."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def git_commit():
    if not os.path.isdir(os.path.join(build.ROOT, ".git")):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    return r.stdout.strip() or None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    try:
        stamp = build.build()
    except build.BuildError as e:
        print(f"lakebench: {e}", file=sys.stderr)
        return 2
    # the run's time limit and host readings start after the build
    t_start = time.time()
    load_before = os.getloadavg()[0]
    steal_before = cpu_steal_s()

    results = os.path.join(build.OUT, "results")
    os.makedirs(results, exist_ok=True)
    tag = "selftest" if a.selftest else f"{a.workload}-{a.seed}-t{a.trace}"
    work = os.path.join(build.OUT, "work", f"{tag}-{os.getpid()}")
    log = os.path.join(results, f"{tag}.log")
    open(log, "w").close()
    cpus = min(4, nproc())
    restarter = None
    try:
        if a.selftest:
            code, out = java(work, ["selftest", "--work", work], log, DEADLINE_S)
            print("\n".join(out))
            return code

        if a.workload == "ingest":
            # the restart check's JVM starts Spark alongside the run and
            # reads the lake only after the writing JVM has exited
            with open(log, "a") as err:
                restarter = subprocess.Popen(command(work, ["restart", "--work", work]),
                                             stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                             stderr=err, text=True, cwd=build.ROOT)
        remaining = DEADLINE_S - (time.time() - t_start)
        code, out = java(work, ["run", "--workload", a.workload, "--seed", str(a.seed),
                                "--seconds", str(a.seconds), "--trace", str(a.trace),
                                "--work", work, "--results", results, "--cpus", str(cpus)],
                         log, remaining)
        if code != 0 or not out or not out[-1].startswith("{"):
            print(f"lakebench: JVM exited with {code}; log in {log}", file=sys.stderr)
            with open(log) as fh:
                sys.stderr.write("".join(fh.readlines()[-30:]))
            return 1
        result = json.loads(out[-1])
        jvm = {}
        restart_input = None
        for line in out[:-1]:
            print(line)
            if line.startswith("host_jvm "):
                jvm = json.loads(line[len("host_jvm "):])
            if line.startswith("restart_input "):
                restart_input = line.split()[1:3]

        if restart_input:
            # the committed lake, re-read by another JVM, must hold exactly
            # the acknowledged rows; a mismatch counts as one failed check
            remaining = DEADLINE_S - (time.time() - t_start)
            rout, _ = restarter.communicate("\t".join(restart_input) + "\n",
                                            timeout=max(10, remaining))
            code = restarter.returncode
            line = next((x for x in rout.splitlines() if x.startswith("restart_check ")), None)
            ok = code == 0 and line is not None and json.loads(line.split(" ", 1)[1])["ok"]
            print(line or f"restart_check {{\"ok\": false, \"exit\": {code}}}")
            result["attempted"] += 1
            if not ok:
                result["failed"] += 1
                result["correct"] = False
                print("failed_check ingest.restart 1")

        load_after = os.getloadavg()[0]
        steal_after = cpu_steal_s()
        host = {"nproc": nproc(), "master": jvm.get("master", f"local[{cpus}]"),
                "load1_before": load_before, "load1_after": load_after,
                "load_exceeded_nproc": max(load_before, load_after) > nproc(),
                "cpu_steal_s": None if steal_before is None or steal_after is None
                else round(steal_after - steal_before, 2),
                "java": jvm.get("java"), "spark": jvm.get("spark"),
                "git_commit": git_commit(), "source_stamp": stamp, "seed": a.seed}
        print("host " + json.dumps(host))
        if host["load_exceeded_nproc"]:
            print("WARNING: 1-minute load exceeded nproc during this run; figures may be inflated")
        print(json.dumps(result))
        return 0
    except subprocess.TimeoutExpired:
        print("lakebench: run exceeded its time limit", file=sys.stderr)
        return 1
    finally:
        if restarter is not None and restarter.poll() is None:
            restarter.kill()
            restarter.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
