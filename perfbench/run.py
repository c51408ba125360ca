#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the benchmark's own harness JVM from source with sbt (offline) into the
checkout; later runs reuse that build while the sources are unchanged.
Inputs are generated from the seed under one scratch root inside the
checkout, which is removed when the run ends.

The last line of stdout is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with --trace 0, the per-layer metrics with --trace 1.
Lines before it name every figure the workload measured. The exit code
is 0 only when every output check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SCRATCH = os.path.join(ROOT, ".bench_scratch")
OUT = os.path.join(ROOT, ".bench_out")
DEADLINE_S = 170
HEAP = "2g"

# the request whose median is `p50_s`, per workload: a daily job for
# etl_month (its month reports give `rows_per_s`), one index day for
# index_daily
REQUEST = {
    "etl_month": "daily_job_s",
    "index_daily": "day_s",
}

# figures printed by name (and carried into the traced run's per-layer
# metrics) for each workload: (printed name, series, statistic)
NAMED = {
    "etl_month": [("etl_rows_per_s", "rows_per_s", "median", "1/s"),
                  ("daily_job_p50_s", "daily_job_s", "median", "s"),
                  ("daily_job_tail_s", "daily_job_s", "tail", "s"),
                  ("month_report_p50_s", "month_s", "median", "s"),
                  # the traced run's analytics probe
                  ("mix_pass_s", "olap.pass_s", "median", "s")],
    "index_daily": [("index_day_p50_s", "day_s", "median", "s"),
                    ("maintain_p50_s", "fold_s", "median", "s"),
                    ("write_amp", "write_amp", "median", "ratio"),
                    ("space_amp", "space_amp", "median", "ratio"),
                    # the traced run's streaming probe
                    ("ingest_lag_p50_s", "stream.lag_s", "median", "s"),
                    ("ingest_lag_tail_s", "stream.lag_s", "tail", "s")],
}

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ---- build -------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    tracked = [os.path.join(ROOT, "build.sbt"),
               os.path.join(ROOT, "project", "build.properties"),
               os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for rel in gen.tree_files(top):
            tracked.append(os.path.join(top, rel))
    for p in tracked:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness with sbt")
    t0 = time.time()
    # sbt's own state goes under the build dir too; only the toolchain's
    # caches outside the checkout are read
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false",
         f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
         f"-Dsbt.ivy.home={os.path.join(BUILD, 'ivy2')}",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ":" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


# ---- one run -------------------------------------------------------------

def tree_bytes(root):
    total = 0
    for d, _, files in os.walk(root):
        for name in files:
            try:
                total += os.lstat(os.path.join(d, name)).st_size
            except OSError:
                pass
    return total


class ScratchWatch(threading.Thread):
    """Samples the scratch root's size to report its peak."""

    def __init__(self, root):
        super().__init__(daemon=True)
        self.root, self.peak = root, 0
        self.stop = threading.Event()

    def run(self):
        while not self.stop.wait(2.0):
            self.peak = max(self.peak, tree_bytes(self.root))


def run_jvm(cp, args, scratch, deadline):
    result = os.path.join(scratch, "result.json")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap: peak RSS then does not depend on when the collector
    # chose to grow it
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.local.dir={os.path.join(scratch, 'spark-local')}",
              f"-Dspark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Dderby.system.home=" + os.path.join(scratch, "derby"),
              "-cp", cp, "graft.perfbench.Main"]
           + [x for k, v in args.items() for x in (f"--{k}", str(v))]
           + ["--result", result])
    logf = open(os.path.join(scratch, "jvm.log"), "w")
    t_launch = time.time()
    p = subprocess.Popen(cmd, cwd=scratch, stdin=subprocess.DEVNULL,
                         stdout=logf, stderr=subprocess.STDOUT,
                         start_new_session=True)
    timer = threading.Timer(max(1.0, deadline - time.time()),
                            lambda: os.killpg(p.pid, signal.SIGKILL))
    timer.start()
    try:
        _, status, usage = os.wait4(p.pid, 0)
    finally:
        timer.cancel()
        logf.close()
    p.returncode = os.waitstatus_to_exitcode(status)
    rss_mb = usage.ru_maxrss / 1024.0
    out = None
    if os.path.exists(result):
        with open(result) as f:
            out = json.load(f)
    if p.returncode != 0 or out is None:
        with open(os.path.join(scratch, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        log(f"harness JVM exited with {p.returncode}")
    return out, t_launch, rss_mb


def index_amplification(data, info):
    """(write_amp, space_amp) of an index_daily run: bytes written under
    the index dirs per user byte appended in the measured days, and bytes
    on disk at the end per live user byte. A user byte is a text byte or
    one of the 4 * dim bytes of a vector."""
    import duckdb
    con = duckdb.connect()
    text = dict(con.sql(
        f"SELECT doc_id, strlen(text) FROM read_parquet(["
        f"'{os.path.join(data, 'corpus_docs.parquet')}', "
        f"'{os.path.join(data, 'batch_docs.parquet')}'], union_by_name=true)").fetchall())
    vec = 4 * info["dim"]
    appended = [i for d in info["measured_days"] for i in info["admitted"][str(d)]]
    user = sum(text[i] + vec for i in appended)
    live = (sum(text[i] for i in info["live_doc_ids"])
            + vec * len(info["live_vec_ids"]))
    return info["index_bytes_written"] / max(1, user), info["index_bytes_on_disk"] / live


def named_figures(workload, series):
    figs = {}
    for name, key, stat, unit in NAMED[workload]:
        xs = series.get(key, [])
        if stat == "median" and xs:
            figs[name] = (stats.median(xs), unit, f"n={len(xs)}")
        elif stat == "tail":
            t = stats.tail(xs)
            if t:
                figs[name] = (t[0], unit, f"p{t[1]:.1f}, n={len(xs)}")
    return figs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    deadline = started + DEADLINE_S

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"no program sources here ({need} missing): nothing to benchmark")
            return 2
    if a.workload not in REQUEST:
        log(f"unknown workload {a.workload}; one of {sorted(REQUEST)}")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cp = build()
    deadline = max(deadline, time.time() + DEADLINE_S)
    scratch = os.path.join(SCRATCH, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    watch = ScratchWatch(scratch)
    watch.start()
    try:
        data = os.path.join(scratch, "data")
        t0 = time.time()
        gen_info = gen.generate(a.workload, a.seed, data, traced=bool(a.trace))
        gen_s = time.time() - t0
        work = os.path.join(scratch, "work")
        os.makedirs(work)
        log(f"inputs generated in {gen_s:.2f}s")
        out, t_launch, rss_mb = run_jvm(cp, {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "cores": cores(), "data": data, "work": work,
        }, scratch, deadline)
        log(f"harness JVM ran {time.time() - t_launch:.2f}s")
        if out is not None:
            log("phases ended at (s after session start): " + ", ".join(
                f"{k} {v:.1f}" for k, v in out.get("phases", {}).items()))
            log("series medians: " + ", ".join(
                f"{k} {stats.median(v):.3g} (n={len(v)})"
                for k, v in out["series"].items() if v))
            req = out["series"].get(REQUEST.get(a.workload), [])
            log(f"{REQUEST.get(a.workload)} in run order: "
                + " ".join(f"{x:.3f}" for x in req))
        problems = []
        if out is None:
            return 1
        if out["error"]:
            problems.append(f"harness error: {out['error']}")
        info = dict(out["info"], **gen_info)
        t_check = time.time()
        try:
            problems += oracle.check(a.workload, data, work, info)
        except Exception as e:  # a check that cannot run is a failed check
            problems.append(f"check raised {e!r}")
        check_s = time.time() - t_check
        if a.workload == "index_daily" and "index_bytes_written" in info:
            out["series"]["write_amp"], out["series"]["space_amp"] = (
                [x] for x in index_amplification(data, info))
        if a.trace and os.path.exists(os.path.join(work, "spans.jsonl")):
            os.makedirs(OUT, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(
                OUT, f"spans-{a.workload}-{a.seed}.jsonl"))
        watch.stop.set()
        watch.join()
        peak_scratch = max(watch.peak, tree_bytes(scratch))
    finally:
        watch.stop.set()
        shutil.rmtree(scratch, ignore_errors=True)

    series = out["series"]
    attempted = int(out["attempted"]) + 1  # the output check is one more
    failed = int(out["failed"]) + (1 if problems else 0)
    for p in problems:
        log(f"CHECK FAILED: {p}")
    jvm_setup = out["session_ready_ms"] / 1000.0 - t_launch
    setup_s = (gen_s + jvm_setup + stats.median(series.get("setup_rep_s", [0.0]))
               + sum(series.get("warmup_s", [])))
    figs = named_figures(a.workload, series)

    if a.trace == 0:
        req = series.get(REQUEST[a.workload], [])
        thr = series.get("rows_per_s", [])
        if not req or not thr:
            problems.append("no completed unit of work to time")
        values = {
            "setup_s": setup_s,
            "peak_rss_mb": rss_mb,
            "p50_s": stats.median(req) if req else 0.0,
            "rows_per_s": stats.median(thr) if thr else 0.0,
        }
        wanted = spec["end_to_end"]
    else:
        values = {k: float(v) for k, v in out["layers"].items()}
        for name, (v, _, _) in figs.items():
            values.setdefault(f"e2e.{name}", v)
        req = REQUEST[a.workload]
        tr, un = series.get(req + "@traced", []), series.get(req + "@untraced", [])
        if tr and un:
            values["trace.traced_p50_s"] = stats.median(tr)
            values["trace.untraced_p50_s"] = stats.median(un)
            values["trace.overhead_ratio"] = stats.median(tr) / stats.median(un)
        values["scratch.peak_bytes"] = float(peak_scratch)
        wanted = spec["per_layer"]
    figs["failed_ratio"] = (failed / attempted, "ratio", f"{failed}/{attempted}")
    figs["setup_s"] = (setup_s, "s", f"reps {series.get('setup_rep_s')}")
    figs["peak_rss_mb"] = (rss_mb, "MB", "")
    figs["peak_scratch_bytes"] = (peak_scratch, "bytes", "")
    figs["check_s"] = (check_s, "s", "untimed")
    for name, (v, unit, note) in figs.items():
        print(f"{a.workload} {name} = {v:.6g} {unit} {('(' + note + ')') if note else ''}")
    metrics = {}
    for m in wanted:
        v = values.get(m["name"], 0.0)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for k in sorted(values):
        if a.trace and k not in metrics:
            print(f"{a.workload} {k} = {values[k]:.6g} (not in BENCHMARK.json)")
    correct = not problems and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
