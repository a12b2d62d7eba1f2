#!/usr/bin/env python3
"""The repository's benchmark: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from source (sbt, offline); later runs reuse the build until a
source file changes. Each run launches one JVM (perfbench.Main) that sets
up, measures for --seconds, checks its outputs and writes a result file;
this script adds the board's DuckDB oracle check and prints, as the last
line of stdout, one JSON object: correct, attempted, failed and metrics.

--trace 1 first makes the same run untraced, then the traced one, and
reports the per-layer metrics plus traced-minus-untraced for every
end-to-end metric (the tracing overhead). Everything a run writes stays
under .bench_work/ in the checkout, except the ephemeral Postgres cluster,
which the postgres OS user must be able to reach and which is removed when
the run ends.
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

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("ingest_paced", "ingest_bulk", "board_mix")
# the read-only sf0.1 tables the program's board queries are written against
SF_DIR = os.path.expanduser("~/testdata/sf0.1")
RUN_BUDGET_S = 170  # a run must end within 180 s; the rest is for reporting
LOADED_CORES = 0.5  # foreign cores above which a run is printed as loaded
JVM_OPTS = [
    "-Xmx3g",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Duser.language=en", "-Duser.country=US",
] + [a for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                 "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
                 "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
     for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the first spark-submit
    on the PATH that sits in a distribution (bin/ beside jars/)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    die("no Spark distribution: set SPARK_HOME")


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    for base in ("src/main/scala", "perfbench/src/main/scala", "perfbench/build.sbt",
                 "perfbench/project/build.properties"):
        top = os.path.join(root, base)
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, work):
    stamp_file = os.path.join(root, "perfbench", "target", "perfbench.stamp")
    stamp = source_stamp(root)
    classes = os.path.join(root, "perfbench", "target", "scala-2.13", "classes")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.isdir(classes):
        return classes
    env = dict(os.environ)
    env["SPARK_HOME"] = os.path.dirname(spark_jars())
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        # the image's offline resolver set-up, as the repository's tests use it
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    env["SBT_OPTS"] += " -Dsbt.server.autostart=false"
    log = os.path.join(work, "build.log")
    with open(log, "w") as out:
        rc = run_child(["sbt", "-batch", "compile"], os.path.join(root, "perfbench"), env, out, out, 850)
    if rc != 0:
        sys.stderr.write(open(log).read()[-3000:])
        die(f"build failed (exit {rc}); log in {log}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def run_child(cmd, cwd, env, out, err, timeout):
    """Run a process in its own group; on timeout terminate, then kill, the group."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=err, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        for sig, grace in ((signal.SIGTERM, 15), (signal.SIGKILL, 10)):
            try:
                os.killpg(p.pid, sig)
            except ProcessLookupError:
                break
            try:
                p.wait(timeout=grace)
                break
            except subprocess.TimeoutExpired:
                pass
        return None


def stop_stray_postgres(work):
    """The JVM stops its Postgres; if the JVM itself died, do it here."""
    marker = os.path.join(work, "pg_data_dir")
    if not os.path.exists(marker):
        return
    data = open(marker).read().strip()
    cluster = os.path.dirname(data)
    if not os.path.basename(cluster).startswith("graft-pg"):
        return
    pidfile = os.path.join(data, "postmaster.pid")
    if os.path.exists(pidfile):
        try:
            pid = int(open(pidfile).readline())
            os.kill(pid, signal.SIGQUIT)
            for _ in range(100):
                os.kill(pid, 0)
                time.sleep(0.1)
        except (ValueError, ProcessLookupError, PermissionError):
            pass
    shutil.rmtree(cluster, ignore_errors=True)


def run_jvm(root, classes, args, trace, work, deadline, cores):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = (["java"] + JVM_OPTS + [f"-Dderby.system.home={work}",
           "-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"), "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", "1" if trace else "0", "--work", work, "--cores", str(cores),
           "--sf-dir", SF_DIR])
    with open(os.path.join(work, "jvm.out"), "w") as out, open(os.path.join(work, "jvm.err"), "w") as err:
        rc = run_child(cmd, root, dict(os.environ), out, err, max(10, deadline - time.time()))
    stop_stray_postgres(work)
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result):
        tail = open(os.path.join(work, "jvm.err"), errors="replace").read()[-4000:]
        sys.stderr.write(tail)
        die(f"{args.workload} run {'timed out' if rc is None else f'exited {rc}'}; logs in {work}", 4)
    return json.load(open(result))


def add_oracle_check(res, work):
    import oracle
    outcomes = oracle.compare(SF_DIR, os.path.join(work, "board"))
    bad = [f"{q}: {why}" for q, ok, why in outcomes if not ok]
    res["checks"].append({"name": "oracle", "attempted": len(outcomes), "failed": len(bad),
                          "detail": "; ".join(bad)})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    root = os.getcwd()
    if args.workload not in WORKLOADS:
        die(f"unknown workload {args.workload}; choose one of {', '.join(WORKLOADS)}")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        die("no program sources under src/main/scala/graft: run from the root of a full checkout")
    if args.workload == "board_mix" and not os.path.isdir(SF_DIR):
        die(f"testdata {SF_DIR} is missing")
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    base = os.path.join(root, ".bench_work")
    os.makedirs(base, exist_ok=True)
    classes = build(root, base)
    # the first run in a checkout may spend long building; the runs' own
    # budget starts once the build is there
    deadline = time.time() + RUN_BUDGET_S
    cores = len(os.sched_getaffinity(0))

    name = f"{args.workload}-{args.seed}"
    plain = run_jvm(root, classes, args, False, os.path.join(base, name), deadline, cores)
    runs = [plain]
    if args.trace:
        runs.append(run_jvm(root, classes, args, True, os.path.join(base, name + "-traced"),
                            deadline, cores))
    for r, tag in zip(runs, ("", "-traced")):
        work = os.path.join(base, name + tag)
        if args.workload == "board_mix":
            add_oracle_check(r, work)
        # keep the logs, result and spans; drop outputs, checkpoints and spill
        for d in ("board", "spark-local", "warehouse") + tuple(
                e for e in os.listdir(work) if e.startswith("checkpoint-")):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    res = runs[-1]
    attempted = sum(c["attempted"] for r in runs for c in r["checks"])
    failed = sum(c["failed"] for r in runs for c in r["checks"])

    e2e = {m["name"]: m for m in spec["end_to_end"]}
    for r in runs:
        for c in r["checks"]:
            state = "ok" if c["failed"] == 0 else "FAILED"
            print(f"check {c['name']}: {state} ({c['failed']} of {c['attempted']} wrong) {c['detail']}".rstrip())
        for k, m in r["named"].items():
            print(f"{k} {m['value']:.6g} {m['unit']}")
        print(f"ops_failed_ratio {failed / max(1, attempted):.6g} ratio")
        flag = " (loaded run)" if r["foreign_cores"] > LOADED_CORES else ""
        print(f"foreign_cores {r['foreign_cores']:.3f} cores{flag}")
        for n in r["notes"]:
            print(f"note: {n}")

    if args.trace:
        layers = dict(res["layers"])
        for k in e2e:
            layers[f"trace.overhead.{k}"] = {
                "value": res["end_to_end"][k]["value"] - plain["end_to_end"][k]["value"],
                "unit": e2e[k]["unit"]}
        metrics = layers
        wanted = [m["name"] for m in spec["per_layer"]]
    else:
        metrics = res["end_to_end"]
        wanted = list(e2e)
    if sorted(metrics) != sorted(wanted):
        die(f"metrics {sorted(set(metrics) ^ set(wanted))} differ from BENCHMARK.json", 5)
    for k in wanted:
        if metrics[k]["value"] is None:
            die(f"metric {k} has no value", 5)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": metrics[k]["value"], "unit": metrics[k]["unit"]}
                                  for k in wanted}}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
