#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

Usage, from the repository root:

    python3 perfbench/run.py --workload wordlist_bigram --seed 1 --seconds 10 --trace 0

The first run builds graft and the harness with sbt (offline); later runs
reuse the build while the sources are unchanged. The harness JVM runs the
workload on local[nproc] and writes a full artifact to
perfbench/.work/results/; this script then runs the DuckDB oracle check
for the query workloads, prints every metric with its unit and the
correctness verdicts, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import io
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
BUILD = os.path.join(WORK, "build")
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("wordlist_bigram", "analytics_mix", "event_stream")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_fingerprint():
    """Hash of the paths, sizes and mtimes of every build input."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
            os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def run_group(cmd, timeout, what, **kwargs):
    """Run `cmd` in its own process group and return its exit code. On a
    timeout, or when this script is stopped, the whole group is killed and
    waited for, so no process outlives the run."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kwargs)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: {what} timed out")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def build():
    """Compile graft and the harness once per source state; return the
    runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    fp = source_fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got.get("fingerprint") == fp:
            return got["classpath"]
    log("building graft and the harness with sbt")
    os.makedirs(BUILD, exist_ok=True)
    log_path = os.path.join(BUILD, "sbt.log")
    with open(log_path, "w") as log_file:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       BUILD_TIMEOUT_S, "build", cwd=HERE, env=sbt_env(), stdout=log_file,
                       stderr=subprocess.STDOUT)
    with open(log_path) as f:
        output = f.read()
    lines = [l for l in output.splitlines() if l.strip() and not l.startswith("[")]
    if rc != 0 or not lines:
        sys.stderr.write(output[-4000:])
        raise SystemExit("perfbench: build failed")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": classpath}, f)
    return classpath


def sibling_jvms():
    """Other JVMs running graft code (a concurrent test or bench skews timings)."""
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if "java" in cmd and ("graft" in cmd or "perfbench" in cmd or "sbt-launch" in cmd):
            found.append(int(pid))
    return found


def cpu_probe_s():
    """Seconds a fixed single-threaded loop takes: a host-speed stamp, so a
    run on a slowed or contended host can be told apart from a regression."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return time.perf_counter() - t0


def steal_s():
    """CPU time stolen by the hypervisor since boot, all CPUs, in seconds."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def git_head():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown (not a git checkout)"
    except (OSError, subprocess.SubprocessError):
        return "unknown (git unavailable)"


def run_jvm(classpath, args, run_dir, out):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-cp", classpath]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:ReservedCodeCacheSize=2g",
            "-Dspark.sql.codegen.cache.maxEntries=5000",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", run_dir, "--data", DATA, "--out", out]
    rc = run_group(cmd, JVM_TIMEOUT_S, "the harness JVM", cwd=ROOT,
                   stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0:
        raise SystemExit(f"perfbench: the harness JVM exited with {rc}")


def oracle_check(check_dir):
    """Each query result against its DuckDB oracle, through the repository's
    canonical compare (tools/check_oracle.py). Returns the failure lines."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        mod.main(DATA, check_dir)
    lines = buf.getvalue().splitlines()
    return lines, [l for l in lines if not l.startswith("OK")]


def stop_on_signal(signum, _frame):
    """SIGTERM or SIGINT: unwind, so that the harness JVM is killed too."""
    raise SystemExit(f"perfbench: stopped by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, stop_on_signal)
    signal.signal(signal.SIGINT, stop_on_signal)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala", "graft"),
                 os.path.join(ROOT, "tools", "check_oracle.py"), DATA):
        if not os.path.exists(need):
            raise SystemExit(f"perfbench: {os.path.relpath(need, ROOT)} is missing; "
                             "run from the root of a graft checkout")

    siblings_start = sibling_jvms()
    classpath = build()
    probe = cpu_probe_s()
    steal0 = steal_s()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    try:
        t0 = time.perf_counter()
        run_jvm(classpath, args, run_dir, out)
        jvm_s = time.perf_counter() - t0
        with open(out) as f:
            art = json.load(f)

        failures = list(art["failures"])
        verdicts = {}
        if args.workload == "wordlist_bigram":
            bad = [f for f in failures if f.startswith("wordlist_bigram")]
            verdicts["golden"] = "FAIL" if bad else "OK"
        else:
            t0 = time.perf_counter()
            lines, bad = oracle_check(os.path.join(run_dir, "check"))
            art["oracle_check_s"] = time.perf_counter() - t0
            verdicts["oracle"] = "FAIL" if bad else "OK"
            art["oracle"] = lines
            # an entry whose warm-up request threw is already counted as failed
            failures += [l for l in bad
                         if l.split()[1].rstrip(":") not in art["warm_failed_kinds"]]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    failed = art["failed"] + (len(failures) - len(art["failures"]))
    art["failed"] = failed
    art["failures"] = failures
    art["error_rate"] = failed / art["attempted"]
    art["host"]["git_head"] = git_head()
    art["host"]["sibling_jvms_at_start"] = siblings_start
    art["host"]["cpu_probe_s"] = probe
    art["host"]["cpu_steal_s"] = steal_s() - steal0
    art["verdicts"] = verdicts
    art["jvm_wall_s"] = jvm_s
    with open(out, "w") as f:
        json.dump(art, f, indent=1)

    metrics = art["per_layer"] if args.trace else art["metrics"]
    tail = art["tail"]
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"master {art['master']}  nproc {art['host']['nproc']}  "
          f"load {art['host']['load_avg_start']} -> {art['host']['load_avg_end']}  "
          f"cpu probe {probe:.3f} s  steal {art['host']['cpu_steal_s']:.1f} s  "
          f"sibling JVMs {len(siblings_start)}")
    for name, m in metrics.items():
        print(f"  {name:32s} {m['value']:>16.6g} {m['unit']}")
    print(f"  {'error_rate':32s} {art['error_rate']:>16.6g} ratio")
    print(f"  latency_tail_s is p{tail['percentile']:g} of {tail['samples']} samples "
          f"({tail['beyond']} beyond)")
    if args.trace:
        for row in art["layer_table"]:
            print(f"  self time {row['layer']:14s} {row['self_s']:>10.4f} s  {row['share']:7.1%}")
    for k, v in verdicts.items():
        print(f"  {k} check: {v}")
    for f in failures:
        print(f"  failure: {f}")
    print(f"  artifact: {os.path.relpath(out, ROOT)}")
    print(json.dumps({
        "correct": not failures,
        "attempted": art["attempted"],
        "failed": failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
