#!/usr/bin/env python3
"""The repo benchmark: what a user of graft waits on, end to end and by layer.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see perfbench/manifest.json for sizes and the reasons):

* ``migrate_cli``: a seeded, generated migration repository driven through
  the cold-JVM CLI lifecycle ``analyze`` → ``apply`` → ``apply`` again,
  against embedded Derby.
* ``etl_validate``: one drained pass over nine validation and reporting
  queries from ``SparkEntry.queries`` at sf0.1, after a warm-up at sf0.001.

The first run in a checkout compiles the program and the harness into
``.bench_build/perfbench/classes/`` (see "build" below); later runs reuse
the classes while the sources are unchanged. Every output is checked; the last line
of stdout is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``).
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.realpath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import corpus  # noqa: E402

MANIFEST = json.load(open(os.path.join(HERE, "manifest.json")))
EXPECTED = json.load(open(os.path.join(HERE, "expected.json")))

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, d, "perfbench")


# --------------------------------------------------------------------- build
#
# The program and the harness are compiled with the Scala compiler that
# ships among the program's own jars (the root build's ``unmanagedBase``),
# in one plain JVM. This needs no sbt launcher, no dependency resolution
# and nothing from the user's home directory, so it works the same in any
# environment that can run the program. ``perfbench/harness/build.sbt``
# compiles the same sources for development.

def _source_stamp():
    """Digest of every input of the build (program and harness)."""
    h = hashlib.sha256()
    for top in ("build.sbt", "src/main", "perfbench/harness/src"):
        top = os.path.join(ROOT, top)
        files = [top] if os.path.isfile(top) else []
        for dp, dns, fns in os.walk(top):
            dns.sort()
            files += [os.path.join(dp, f) for f in sorted(fns)]
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def java_bin(tool="java"):
    """``$JAVA_HOME/bin/<tool>``, else the one on PATH."""
    home = os.environ.get("JAVA_HOME")
    if home and os.path.isfile(os.path.join(home, "bin", tool)):
        return os.path.join(home, "bin", tool)
    found = shutil.which(tool)
    if not found:
        raise BuildError(f"no {tool}: set JAVA_HOME or put {tool} on PATH")
    return found


def _jars():
    """The program's jars: the root build's ``unmanagedBase`` directory,
    else ``$SPARK_HOME/jars``."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(os.path.join(ROOT, "build.sbt")).read())
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    d = os.path.join(ROOT, d)
    jars = sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".jar")) \
        if os.path.isdir(d) else []
    if not jars:
        raise BuildError(f"no jars in {d!r}")
    return jars


def _sources(top):
    found = []
    for dp, dns, fns in os.walk(top):
        dns.sort()
        found += [os.path.join(dp, f) for f in sorted(fns)]
    java = [f for f in found if f.endswith(".java")]
    if java:
        raise BuildError(f"Java sources are not compiled by this build: {java[0]}")
    return [f for f in found if f.endswith(".scala")]


def _scalac(jars, classpath, sources, out, log, deadline):
    """Compile ``sources`` into ``out``, appending the compiler's output to
    ``log``. The compiler runs in its own process group, stopped with every
    child on a timeout."""
    compiler = [j for j in jars if re.search(r"scala-(compiler|reflect|library)-[^/]*\.jar$",
                                             os.path.basename(j))]
    os.makedirs(out)
    cmd = [java_bin(), "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", os.pathsep.join(classpath)] + sources
    with open(log, "a") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            raise
    if rc != 0:
        raise BuildError(f"scalac exited {rc} compiling {len(sources)} sources into {out}")


def harness_classes():
    return os.path.join(build_dir(), "classes", "harness")


def build():
    """Return the harness runtime classpath (harness classes, program
    classes, the program's jars), building it when stale."""
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BuildError(f"no program sources: {need} is missing")
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    stamp_file = os.path.join(out, "stamp")
    classes = os.path.join(out, "classes")
    stamp = _source_stamp()
    jars = _jars()
    cp = [harness_classes(), os.path.join(classes, "program")] + jars
    if os.path.isdir(classes) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return os.pathsep.join(cp)
    deadline = time.monotonic() + 840
    log = os.path.join(out, "build.log")
    open(log, "w").close()
    fresh = classes + ".new"
    shutil.rmtree(fresh, ignore_errors=True)
    try:
        prog = os.path.join(fresh, "program")
        _scalac(jars, jars, _sources(os.path.join(ROOT, "src", "main", "scala")),
                prog, log, deadline)
        _scalac(jars, [prog] + jars, _sources(os.path.join(HERE, "harness", "src", "main", "scala")),
                os.path.join(fresh, "harness"), log, deadline)
    except BuildError as e:
        tail = open(log).read().splitlines()[-30:]
        raise BuildError("\n".join([str(e), f"last lines of {log}:"] + tail))
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    open(stamp_file, "w").write(stamp)
    return os.pathsep.join(cp)


def spans_file(workload):
    """Where a traced run writes its spans; the latest run per workload."""
    d = os.path.join(build_dir(), "spans")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f"{workload}.jsonl")


def program_classpath(cp):
    """The program's classpath: the harness classpath minus the harness."""
    return os.pathsep.join(p for p in cp.split(os.pathsep) if p != harness_classes())


def java(cp, main, args, tmp, heap):
    cmd = [java_bin()]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + [f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
                  "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  "-cp", cp, main] + list(args)


# ------------------------------------------------------------------ process

class Proc:
    """One child process, waited for: wall time from spawn to exit, peak
    RSS, exit code and stdout. ``ready_s`` is the time at which the child
    printed the line ``ready``. A child still running after ``timeout``
    seconds is killed."""

    def __init__(self, cmd, cwd, env, log, ready=None, timeout=170):
        self.ready_s = None
        out = []
        t0 = time.perf_counter()
        with open(log, "w") as err:
            p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                                 stderr=err, stdin=subprocess.DEVNULL, text=True)
            watchdog = threading.Timer(timeout, p.kill)
            watchdog.start()
            for line in p.stdout:
                if ready is not None and self.ready_s is None and line.strip() == ready:
                    self.ready_s = time.perf_counter() - t0
                out.append(line)
            _, status, ru = os.wait4(p.pid, 0)
            self.wall_s = time.perf_counter() - t0
            watchdog.cancel()
            p.stdout.close()
        self.rc = os.waitstatus_to_exitcode(status)
        self.rss_mb = ru.ru_maxrss / 1024.0
        self.cpu_s = ru.ru_utime + ru.ru_stime
        self.out = "".join(out)


def child_env(extra):
    """The caller's environment without the program's and Spark's own
    settings; Spark binds to the loopback interface, so that it never
    depends on how the host's name resolves."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_", "GRAFT_", "MIGRATE_", "JAVA_TOOL"))}
    env.update(SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    env.update(extra)
    return env


def median(xs):
    return statistics.median(xs) if xs else 0.0


def timed_op(ops, name, cmd, cwd, env, log, check):
    """Run one operation and record it in ``ops`` as (name, ok, seconds).
    It fails if it exits non-zero or ``check(stdout)`` is false or raises;
    a failed operation carries no time."""
    p = Proc(cmd, cwd, env, log)
    try:
        ok = p.rc == 0 and bool(check(p.out))
    except (OSError, ValueError, KeyError, IndexError, TypeError):
        ok = False
    ops.append((name, ok, p.wall_s if ok else None))
    print(f"perfbench: {name} {p.wall_s:.2f} s wall, {p.cpu_s:.2f} s cpu, exit {p.rc}"
          f"{'' if ok else ' FAILED'}", file=sys.stderr)
    return p


def judge(outcomes, expected, ops):
    """Record query outcomes in ``ops``; return the times of the correct
    ones. A query is correct if it ran and its row count and digest equal
    the expected ones."""
    totals = []
    for o in outcomes:
        want = expected.get(o["name"])
        ok = (o["ok"] and want is not None and o["rows"] == want["rows"]
              and o["digest"] == want["digest"])
        ops.append((o["name"], ok, o["total_s"] if ok else None))
        if ok:
            totals.append(o["total_s"])
    return totals


# --------------------------------------------------------------- migrate_cli

def migrate_cli(cp, seed, seconds, trace, run):
    spec = MANIFEST["workloads"]["migrate_cli"]
    n, k = spec["migrations"], spec["rollback_steps"]
    prog_cp = program_classpath(cp)
    ops = []  # (name, ok, seconds or None)
    setups, lifecycles, rss, layer = [], [], [], {}
    jvm_start, cpus = [], []

    def fresh_state(tag):
        d = os.path.join(run, tag)
        os.makedirs(os.path.join(d, "tmp"))
        plan = corpus.generate(seed, n, k)
        corpus.write(plan, os.path.join(d, "migrations"))
        return d, plan

    start = time.perf_counter()
    life = 0
    while life == 0 or time.perf_counter() - start < seconds:
        # set-up, seven times (a cold JVM start is noisy): corpus, fresh
        # state dirs, one cold --version
        for j in range(7):
            t0 = time.perf_counter()
            d, plan = fresh_state(f"life{life}_setup{j}")
            v = timed_op(ops, "version",
                         java(prog_cp, "graft.cli.GraftMain", ["--version"],
                              os.path.join(d, "tmp"), "2g"),
                         d, child_env({}), os.path.join(d, "version.log"),
                         lambda o: o.startswith("graft "))
            setups.append(time.perf_counter() - t0)
            jvm_start.append(v.wall_s)
        measured, lrss, jobs = _lifecycle(d, plan, prog_cp, cp, trace, ops)
        rss += lrss
        if measured is not None:
            lifecycles.append(measured[0])
            cpus.append(sum(measured[1].values()))
        layer.update(jobs)
        life += 1

    print(f"perfbench: medians over {len(lifecycles)} lifecycle(s), "
          f"setup_s over {len(setups)} set-ups", file=sys.stderr)
    if trace:
        replay = _replay(cp, os.path.join(run, "replay"), plan, k, ops)
        layer.update(replay)
        layer["cli.jvm_start_s"] = median(jvm_start)
        for c in ("analyze", "apply", "reapply"):
            layer[f"cli.{c}_s"] = median([t[c] for t in lifecycles]) if lifecycles else 0.0
        layer["trace.pass_s"] = median([sum(t.values()) for t in lifecycles])
        return ops, layer
    metrics = {
        "setup_s": median(setups),
        "total_s": median([sum(t.values()) for t in lifecycles]),
        "cpu_s": median(cpus),
        "peak_rss_mb": max(rss) if rss else 0.0,
    }
    return ops, metrics


def _lifecycle(d, plan, prog_cp, cp, trace, ops):
    """One cold-JVM lifecycle in state dir ``d``. Returns ((wall seconds,
    CPU seconds) per command, or None if any operation failed; the child
    RSS list; job counts)."""
    n = len(plan)
    mig, trk = os.path.join(d, "migrations"), os.path.join(d, "tracker")
    db = os.path.join(d, "derby", "db")
    url = f"jdbc:derby:{db};create=true"
    env = child_env({"GRAFT_WAREHOUSE": os.path.join(d, "warehouse")})
    times, cpu, rss, jobs = {}, {}, [], {}

    def check_analyze(out):
        got = json.loads(out)
        want = [(m["version"], m["severity"], m["rules"]) for m in plan]
        have = [(r["version"], r["max_severity"],
                 sorted({f["rule"] for f in r["findings"]})) for r in got]
        return have == want

    steps = [
        ("analyze", ["analyze", mig, "--format", "json"], check_analyze),
        ("apply", ["apply", mig, trk, "--force", "--jdbc-url", url],
         lambda o: o.strip().splitlines()[-1] == f"applied {n}, skipped 0"),
        ("reapply", ["apply", mig, trk, "--force", "--jdbc-url", url],
         lambda o: o.strip().splitlines()[-1] == f"applied 0, skipped {n}"),
    ]
    all_ok = True
    for name, args, check in steps:
        extra = []
        run_cp = prog_cp
        if trace:
            jobs_file = os.path.join(d, f"jobs.{name}")
            extra = ["-Dspark.extraListeners=perfbench.JobCounter",
                     f"-Dspark.perfbench.jobsFile={jobs_file}"]
            run_cp = cp
        cmd = java(run_cp, "graft.cli.GraftMain", args, os.path.join(d, "tmp"), "2g")
        cmd[1:1] = extra
        p = timed_op(ops, name, cmd, d, env, os.path.join(d, f"{name}.log"), check)
        rss.append(p.rss_mb)
        all_ok &= ops[-1][1]
        times[name] = p.wall_s
        cpu[name] = p.cpu_s
        if trace:
            try:
                jobs[f"cli.jobs.{name}"] = int(open(jobs_file).read())
            except (OSError, ValueError):
                jobs[f"cli.jobs.{name}"] = 0
    # the migrations' tables in Derby (the program's own bookkeeping
    # tables, such as its lock table, are not the migrations' business)
    want = sorted(t.upper() for t in plan[-1]["tables"])
    timed_op(ops, "derby_state", java(cp, "perfbench.DerbyTables", [f"jdbc:derby:{db}"],
                                      os.path.join(d, "tmp"), "512m"),
             d, env, os.path.join(d, "derby_tables.log"),
             lambda o: [t for t in o.split() if re.fullmatch(r"T\d+", t)] == want)
    return (times, cpu) if all_ok and ops[-1][1] else None, rss, jobs


def _replay(cp, d, plan, k, ops):
    """Traced in-JVM replay of the lifecycle; returns per-layer metrics."""
    os.makedirs(os.path.join(d, "tmp"))
    mig = os.path.join(d, "migrations")
    corpus.write(plan, mig)
    out = os.path.join(d, "replay.json")
    n = len(plan)

    def check(_):
        c = json.load(open(out))["checks"]
        return (c["loaded"] == n and c["applied"] == n
                and c["reapply_skipped"] == n and c["reapply_applied"] == 0
                and c["rolled_back"] == k
                and c["findings"] == sum(len(m["rules"]) for m in plan)
                and c["status_applied"] == [m["version"] for m in plan[:n - k]])

    timed_op(ops, "replay", java(cp, "perfbench.CliReplay",
                  ["--migrations", mig, "--tracker", os.path.join(d, "tracker"),
                   "--jdbc-url", f"jdbc:derby:{os.path.join(d, 'derby', 'db')};create=true",
                   "--steps", str(k), "--out", out,
                   "--spans", spans_file("migrate_cli")],
                  os.path.join(d, "tmp"), "2g"),
             d, child_env({"GRAFT_WAREHOUSE": os.path.join(d, "warehouse")}),
             os.path.join(d, "replay.log"), check)
    return json.load(open(out))["layer"] if ops[-1][1] else {}


# ------------------------------------------------------------ query mixes

def query_mix(workload, cp, seed, seconds, trace, run):
    spec = MANIFEST["workloads"][workload]
    names = list(spec["queries"])
    random.Random(seed).shuffle(names)
    data = os.path.join(HERE, "data")
    os.makedirs(os.path.join(run, "tmp"))
    os.makedirs(os.path.join(run, "local"))
    out = os.path.join(run, "queries.json")
    p = Proc(java(cp, "perfbench.QueryWorkload",
                  ["--data", os.path.join(data, "sf0.1"),
                   "--warm", os.path.join(data, "sf0.001"),
                   "--queries", ",".join(names), "--seconds", str(seconds),
                   "--trace", "1" if trace else "0", "--out", out,
                   "--local-dir", os.path.join(run, "local"),
                   "--spans", spans_file(workload)],
                  os.path.join(run, "tmp"), "3g"),
             run, child_env({}), os.path.join(run, "queries.log"), ready="READY")
    ops = []
    try:
        res = json.load(open(out))
    except (OSError, ValueError):
        res = None
    if p.rc != 0 or res is None:
        ops += [(n, False, None) for n in names]
        return ops, {}

    judge(res["warmup"], EXPECTED["sf0.001"], ops)
    untraced, traced, cpus = [], [], []
    for ps in res["passes"]:
        totals = judge(ps["queries"], EXPECTED["sf0.1"], ops)
        (traced if ps["traced"] else untraced).append(sum(totals))
        if not ps["traced"]:
            cpus.append(ps["cpu_s"])
        done = ops[-len(ps["queries"]):]
        print("perfbench: " + ", ".join(f"{n} {t:.2f} s" if ok else f"{n} FAILED"
                                        for n, ok, t in done), file=sys.stderr)
    print(f"perfbench: medians over {len(untraced)} untraced pass(es)", file=sys.stderr)
    if trace:
        layer = dict(res["trace"])
        base = median(untraced)
        layer["trace.overhead_pct"] = (100.0 * (traced[0] - base) / base
                                       if traced and base else 0.0)
        return ops, layer
    return ops, {"setup_s": p.ready_s or 0.0, "total_s": median(untraced),
                 "cpu_s": median(cpus), "peak_rss_mb": p.rss_mb}


WORKLOADS = {
    "migrate_cli": migrate_cli,
    "etl_validate": lambda *a: query_mix("etl_validate", *a),
}


# -------------------------------------------------------------------- main

def result_line(ops, values, trace):
    attempted = len(ops)
    failed = sum(1 for _, ok, _ in ops if not ok)
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = bench["per_layer" if trace else "end_to_end"]
    if trace:
        values = dict(values, fail_ratio=failed / attempted if attempted else 1.0)
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    return {"correct": attempted > 0 and failed == 0, "attempted": max(attempted, 1),
            "failed": failed if attempted else 1, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        cp = build()
    except (BuildError, subprocess.TimeoutExpired, OSError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    run = os.path.join(build_dir(), "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(run)
    ops, values = WORKLOADS[a.workload](cp, a.seed, a.seconds, bool(a.trace), run)
    line = result_line(ops, values, bool(a.trace))
    if line["correct"]:
        shutil.rmtree(run, ignore_errors=True)
    else:  # keep every child's log for diagnosis
        print(f"perfbench: run directory kept: {run}", file=sys.stderr)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
