#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload curation_batch --seed 1 --seconds 8 --trace 0

Run it from the root of a graft checkout. It compiles graft's sources and
the JVM harness (``perfbench/scala``) with the Scala compiler that ships
in the Spark jars, prepares the inputs from the sf0.1 tables in
``perfbench/data``, runs the workload in one JVM, checks the results, and
prints one JSON object as the last line of stdout. Build outputs and
scratch files live under ``.bench_build`` (or ``$CARGO_TARGET_DIR`` when
set to a relative path).

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run. The line before the result holds the
details: host noise, the tail percentile used, failing queries with their
oracle diffs, and the exact-count comparison.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import stats    # noqa: E402
from workloads import PER_LAYER, WORKLOADS  # noqa: E402

T_START = time.monotonic()
RUN_LIMIT_S = 170          # one run, once the build is done
BUILD_LIMIT_S = 800        # the first run of a checkout also compiles
JVM_HEAP = "3g"
PROBE_COPIES = 20          # each probe input is replicated this many times
PROBE_REPS = 3             # timed runs per probe, after one warm-up run
TICK_MS = 5                # the stream generator's idle sleep
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build -------------------------------------------------------------------

def spark_jars(root):
    """The Spark jar directory graft builds against: the one named by
    ``unmanagedBase`` in the repo's build.sbt, else ``$SPARK_HOME/jars``."""
    sbt = root / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    raise BenchError("no Spark jars: build.sbt names no unmanagedBase and SPARK_HOME is unset")


def sources(root):
    main = root / "src" / "main" / "scala"
    if not (main / "graft" / "SparkEntry.scala").is_file():
        raise BenchError(f"graft sources not found under {main}")
    return sorted(main.rglob("*.scala")) + sorted((HERE / "scala").rglob("*.scala"))


def build(root, build_dir, jars):
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    classes = build_dir / "classes"
    stamp_file = classes / "STAMP"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes, stamp, False
    log(f"compiling {len(srcs)} Scala files")
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = build_dir / "scalac.args"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", str(classes), "-classpath", cp, f"@{argfile}"]
    res = run_child(cmd, BUILD_LIMIT_S - (time.monotonic() - T_START),
                    build_dir / "scalac.log")
    if res != 0:
        raise BenchError(f"compile failed (exit {res}); see {build_dir / 'scalac.log'}")
    stamp_file.write_text(stamp)
    return classes, stamp, True


def run_child(cmd, limit_s, log_path, cwd=None):
    """Run ``cmd`` with stdout and stderr in ``log_path``; kill its process
    group when it outlives ``limit_s``. Returns the exit code."""
    if limit_s <= 0:
        raise BenchError("no time left to start " + cmd[0])
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=cwd,
                             start_new_session=True)
        try:
            return p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"{cmd[0]} exceeded {limit_s:.0f}s; see {log_path}")
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


# ---- host noise ----------------------------------------------------------------

def cpu_times():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals)


def host_record(load_start, cpu_start):
    steal0, total0 = cpu_start
    steal1, total1 = cpu_times()
    return {"load1_start": load_start, "load1_end": os.getloadavg()[0],
            "steal_frac": (steal1 - steal0) / max(1, total1 - total0)}


# ---- oracle ----------------------------------------------------------------------

def oracle_frame(con, cache_dir, name, sql):
    """DuckDB's answer for one query over the tables, cached per SQL text
    and table contents."""
    import pandas as pd
    h = hashlib.sha256(sql.encode())
    for table in sorted(Path(datagen.DATA_DIR).glob("*.parquet")):
        h.update(table.read_bytes())
    key = h.hexdigest()[:16]
    path = cache_dir / f"{name}-{key}.parquet"
    if path.is_file():
        return pd.read_parquet(path)
    df = con.execute(sql).fetchdf()
    cache_dir.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    df.to_parquet(tmp, index=False)
    tmp.rename(path)
    return df


def check_batch(raw, data_dir, cache_dir):
    """Failing queries: those that threw, and those whose result differs
    from the oracle. Returns {query: reason}."""
    import duckdb
    import pandas as pd
    failed = dict(raw.get("failed", {}))
    con = duckdb.connect()
    for table in sorted(data_dir.glob("*.parquet")):
        con.execute(f"CREATE VIEW {table.stem} AS SELECT * FROM read_parquet('{table}')")
    for name, c in sorted(raw["check"].items()):
        if name in failed:
            continue
        if not c.get("oracle_sql"):
            failed[name] = "no oracle SQL"
            continue
        try:
            got = pd.read_parquet(c["result"])
            want = oracle_frame(con, cache_dir, name, c["oracle_sql"])
        except Exception as e:  # any failure to produce either side fails the query
            failed[name] = f"{type(e).__name__}: {e}"
            continue
        diff = stats.oracle_diff(got, want)
        if diff:
            failed[name] = diff
    return failed


# ---- metrics -----------------------------------------------------------------------

def metric(value, unit):
    return {"value": float(value), "unit": unit}


def batch_end_to_end(raw, detail):
    passes = raw["passes"]
    warm = [p for p in passes[1:] if not p["traced"] and not p.get("warmup")]
    # a query that threw has no wall; the pass walls stand in if none has
    walls = [w for p in warm for w in p["queries"].values()] or [p["wall"] for p in warm]
    pct, tail, n = stats.tail_percentile(walls)
    detail["lat_tail"] = {"percentile": pct, "samples": n}
    _, p50, _ = stats.tail_percentile(walls, candidates=(50.0,))
    detail["warm_passes"] = len(warm)
    detail["query_warm_s"] = {q: stats.median([p["queries"][q] for p in warm if q in p["queries"]])
                              for q in passes[0]["queries"]}
    # the CPU metrics leave out the JIT compiler threads: they compile for
    # dozens of passes, by an amount that swings with the host's load
    cpu = {"warm_cpu_s": metric(stats.median([p["cpu_s"] - p["jit_s"] for p in warm]), "s")}
    ungated = {
        "cold.cpu_s": metric(passes[0]["cpu_s"] - passes[0]["jit_s"], "s"),
        "jit.cold_cpu_s": metric(passes[0]["jit_s"], "s"),
        "jit.warm_cpu_s": metric(stats.median([p["jit_s"] for p in warm]), "s"),
        "wall.cold_s": metric(passes[0]["wall"], "s"),
        "wall.warm_s": metric(stats.median([p["wall"] for p in warm]), "s"),
        "wall.lat_p50_ms": metric(1e3 * p50, "ms"),
        "wall.lat_tail_ms": metric(1e3 * tail, "ms"),
        "wall.throughput_per_s": metric(len(walls) / sum(p["wall"] for p in warm), "1/s"),
    }
    return cpu, ungated


def stream_view(s):
    """Per-event latency and backlog of one stream run ``s``, from the chunks
    the generator sent and the micro-batches that consumed them."""
    import numpy as np
    segs = [(g["rate"], g["seconds"]) for g in s["segments"]]
    chunks = np.array(s["chunks"], dtype=np.int64).reshape(-1, 4)
    batches = sorted(s["batches"], key=lambda b: b["end_offset"])
    gen0 = s["gen_start_ns"]
    b_end_off = np.array([b["end_offset"] for b in batches])
    b_end_s = (np.array([b["end_ns"] for b in batches], dtype=float) - gen0) / 1e9
    if not len(batches) or chunks[-1, 0] > b_end_off[-1]:
        raise BenchError(f"the stream's progress ends at offset "
                         f"{b_end_off[-1] if len(batches) else None}, before the last "
                         f"chunk sent (offset {chunks[-1, 0]}): micro-batches went unrecorded")
    # the batch that consumed chunk k is the first whose end offset >= k's
    pos = np.searchsorted(b_end_off, chunks[:, 0], side="left")
    chunk_done = b_end_s[pos]
    counts = chunks[:, 2] - chunks[:, 1]
    idx = np.arange(chunks[:, 1].min(), chunks[:, 2].max()) if len(chunks) else np.arange(0)
    done = np.repeat(chunk_done, counts)
    sent = np.repeat((chunks[:, 3] - gen0) / 1e9, counts)
    due = stats.scheduled_s(idx, segs)
    # backlog at each batch end: events sent by then, minus those consumed
    sent_at = np.sort(sent)
    consumed = np.cumsum(np.bincount(pos, weights=counts, minlength=len(batches)))
    backlog = np.searchsorted(sent_at, b_end_s, side="right") - consumed
    return {"segs": segs, "gen0": gen0, "due": due, "sent": sent, "done": done,
            "batches": batches, "b_end_s": b_end_s, "backlog": backlog,
            "consumed": consumed}


def stream_phases(v, warmup_s):
    """The measured part of the nominal segment (after warm-up), and for
    every later rung: whether its backlog grows, and the rate at which the
    batches that started in it (and the drain after the last) processed
    rows while busy."""
    import numpy as np
    bounds = stats.schedule(v["segs"])
    t_lo, t_hi = warmup_s, bounds[1][0]
    ev = (v["due"] >= t_lo) & (v["due"] < t_hi)
    bsel = (v["b_end_s"] >= t_lo) & (v["b_end_s"] < t_hi)
    b_start = np.array([b["start_ns"] for b in v["batches"]], dtype=float)
    b_start = (b_start - v["gen0"]) / 1e9
    rows = np.array([b["input_rows"] for b in v["batches"]], dtype=float)
    busy = np.array([b["durations"].get("triggerExecution", 0) for b in v["batches"]]) / 1e3
    rungs = []
    for k in range(1, len(v["segs"])):
        (a, _), (b, _) = bounds[k], bounds[k + 1]
        last = k == len(v["segs"]) - 1
        in_rung = (v["b_end_s"] >= a) & (v["b_end_s"] < b)
        started = (b_start >= a) & ((b_start < b) | last)
        rate = v["segs"][k][0]
        rungs.append({
            "rate": rate,
            "processed_per_s": rows[started].sum() / max(1e-9, busy[started].sum()),
            "batches": int(started.sum()),
            "backlog_grows": stats.backlog_grows(v["b_end_s"][in_rung],
                                                 v["backlog"][in_rung], rate),
            "backlog_max": int(v["backlog"][in_rung].max()) if in_rung.any() else 0})
    return ev, bsel, rungs


def stream_end_to_end(raw, plan, detail):
    import numpy as np
    s = raw["stream"]
    v = stream_view(s)
    ev, bsel, rungs = stream_phases(v, plan["warmup_s"])
    lat_ms = 1e3 * (v["done"][ev] - v["due"][ev])
    lag_ms = 1e3 * (v["sent"][ev] - v["due"][ev])
    pct, tail, n = stats.tail_percentile(lat_ms.tolist())
    lag_pct, lag_tail, _ = stats.tail_percentile(lag_ms.tolist())
    trig = [b["durations"].get("triggerExecution", 0) / 1e3
            for b, keep in zip(v["batches"], bsel) if keep]
    nominal = v["segs"][0][0]
    detail.update({
        "lat_tail": {"percentile": pct, "samples": n},
        "gen_lag_tail_ms": {"percentile": lag_pct, "value": lag_tail},
        "nominal_eps": nominal,
        "nominal_backlog_grows": stats.backlog_grows(
            v["b_end_s"][bsel], v["backlog"][bsel], nominal),
        "ladder": rungs, "batches": len(v["batches"]), "events_sent": s["sent"],
        "windows_compared": raw.get("windows_compared", 0)})
    late = sum(b["late_dropped"] for b in v["batches"])
    if late:
        raw.setdefault("failed", {})["stream.late_dropped"] = \
            f"{late} events dropped behind the watermark"
    # cold: CPU from query start through the first micro-batch that ends
    # after the warm-up. warm: the median micro-batch wall, and the CPU per
    # 100 000 events, over the micro-batches that end in the measured part
    # of the nominal segment. CPU leaves out the JIT compiler threads, as
    # for a batch pass
    after = [b for b in v["batches"] if (b["end_ns"] - v["gen0"]) / 1e9 >= plan["warmup_s"]]
    first = int(np.argmax(bsel))
    sel = [b for b, keep in zip(v["batches"], bsel) if keep]
    if len(sel) < 5:
        raise BenchError(f"only {len(sel)} micro-batches in the measured nominal segment")
    prev = v["batches"][first - 1] if first else {"cpu_ns": s["start_cpu_ns"],
                                                  "jit_ns": s["start_jit_ns"]}
    rows = sum(b["input_rows"] for b in sel)
    jit_s = (sel[-1]["jit_ns"] - prev["jit_ns"]) / 1e9
    cpu_s = (sel[-1]["cpu_ns"] - prev["cpu_ns"]) / 1e9 - jit_s
    cold_jit_s = (after[0]["jit_ns"] - s["start_jit_ns"]) / 1e9
    cpu = {"warm_cpu_s": metric(1e5 * cpu_s / rows, "s")}
    ungated = {
        "cold.cpu_s": metric((after[0]["cpu_ns"] - s["start_cpu_ns"]) / 1e9 - cold_jit_s, "s"),
        "jit.cold_cpu_s": metric(cold_jit_s, "s"),
        "jit.warm_cpu_s": metric(1e5 * jit_s / rows, "s"),
        "wall.cold_s": metric((s["first_batch_end_ns"] - s["start_ns"]) / 1e9, "s"),
        "wall.warm_s": metric(stats.median(trig), "s"),
        "wall.lat_p50_ms": metric(float(np.median(lat_ms)), "ms"),
        "wall.lat_tail_ms": metric(tail, "ms"),
        "wall.throughput_per_s": metric(max(r["processed_per_s"] for r in rungs), "1/s"),
    }
    speedup = None
    if "stream_1core" in raw:
        _, _, rungs1 = stream_phases(stream_view(raw["stream_1core"]), 0.0)
        speedup = ungated["wall.throughput_per_s"]["value"] / rungs1[-1]["processed_per_s"]
        detail["single_core_eps"] = rungs1[-1]["processed_per_s"]
    return cpu, ungated, lambda raw: stream_per_layer(raw, v, bsel, rungs, lag_tail, speedup)


def sum_key(traces, key):
    return sum(t[key] for t in traces)


def batch_per_layer(raw, cores, detail, counts_ref):
    passes = raw["passes"]
    warm = [p for p in passes[1:] if p["traced"]]
    plain = [p for p in passes[1:] if not p["traced"] and not p.get("warmup")]

    def per_pass(key):
        return stats.median([sum_key(p["trace"], key) for p in warm])

    exec_s = per_pass("exec_s")
    m = {
        "core.scan_bytes": metric(per_pass("scan_bytes"), "bytes"),
        "core.scan_rows": metric(per_pass("scan_rows"), "count"),
        "operators.build_s": metric(per_pass("build_s"), "s"),
        "operators.build_jobs": metric(per_pass("build_jobs"), "count"),
        "plans.analysis_s": metric(per_pass("analysis_s"), "s"),
        "plans.optimize_s": metric(per_pass("optimize_s"), "s"),
        "plans.physical_s": metric(per_pass("physical_s"), "s"),
        "plans.graft_rules_s": metric(per_pass("graft_rules_s"), "s"),
        "plans.exchanges": metric(per_pass("exchanges"), "count"),
        "plans.codegen_stages": metric(per_pass("codegen_stages"), "count"),
        "exec.s": metric(exec_s, "s"),
        "exec.task_cpu_s": metric(per_pass("task_cpu_s"), "s"),
        "exec.task_run_s": metric(per_pass("task_run_s"), "s"),
        "exec.gc_s": metric(per_pass("gc_s"), "s"),
        # build jobs run tasks too, so the busy share is taken over the query wall
        "exec.busy_frac": metric(per_pass("task_run_s") / max(1e-9, cores * per_pass("wall_s")),
                                 "ratio"),
        "exec.shuffle_write_bytes": metric(per_pass("shuffle_write_bytes"), "bytes"),
        "exec.shuffle_read_bytes": metric(per_pass("shuffle_read_bytes"), "bytes"),
        "exec.spill_bytes": metric(per_pass("spill_bytes"), "bytes"),
        "exec.jobs": metric(per_pass("jobs"), "count"),
        "exec.stages": metric(per_pass("stages"), "count"),
        "exec.tasks": metric(per_pass("tasks"), "count"),
        "exec.task_overhead_s": metric(per_pass("task_overhead_s"), "s"),
        "exec.codegen_compiles": metric(sum_key(passes[0]["trace"], "codegen_compiles"), "count"),
        "exec.codegen_compile_s": metric(sum_key(passes[0]["trace"], "codegen_compile_s"), "s"),
    }
    traced_med = stats.median([p["wall"] for p in warm])
    plain_med = stats.median([p["wall"] for p in plain])
    m["trace.overhead_frac"] = metric(traced_med / plain_med - 1.0, "ratio")
    # per query: build + plan + exec against the query's wall
    gaps = [t["wall_s"] - (t["build_s"] + t["analysis_s"] + t["optimize_s"]
                           + t["physical_s"] + t["exec_s"])
            for p in warm for t in p["trace"]]
    walls = sum(t["wall_s"] for p in warm for t in p["trace"])
    m["trace.unaccounted_frac"] = metric(sum(abs(g) for g in gaps) / walls, "ratio")
    counts = exact_counts(warm)
    mism = [f"within run: {x}" for x in counts_diff(counts)]
    if counts_ref is not None:
        mism += [f"vs earlier traced run: {x}" for x in counts_diff([counts_ref, counts[-1]])]
    m["counts.mismatch"] = metric(len(mism), "count")
    detail["counts_mismatch"] = mism
    detail["pass_walls"] = {"traced": [p["wall"] for p in warm],
                            "untraced": [p["wall"] for p in plain]}
    return m, counts[-1]


EXACT_COUNTS = ("exchanges", "codegen_stages", "build_jobs", "jobs", "scan_rows")


def exact_counts(traced_passes):
    return [{t["query"]: {k: t[k] for k in EXACT_COUNTS} for t in p["trace"]}
            for p in traced_passes]


def counts_diff(count_sets):
    """Every (query, counter) whose value is not the same in all sets."""
    out = []
    first = count_sets[0]
    for other in count_sets[1:]:
        for q in sorted(set(first) | set(other)):
            for k in EXACT_COUNTS:
                a = first.get(q, {}).get(k)
                b = other.get(q, {}).get(k)
                if a != b:
                    out.append(f"{q}.{k}: {a} vs {b}")
    return out


def stream_per_layer(raw, v, bsel, rungs, lag_tail, speedup):
    sel = [b for b, keep in zip(v["batches"], bsel) if keep] or v["batches"]

    def p50(key):
        return stats.median([b["durations"].get(key, 0) for b in sel])
    ex = raw["stream"].get("exec", {})
    return {
        "stream.trigger_ms_p50": metric(p50("triggerExecution"), "ms"),
        "stream.addbatch_ms_p50": metric(p50("addBatch"), "ms"),
        "stream.planning_ms_p50": metric(p50("queryPlanning"), "ms"),
        "stream.walcommit_ms_p50": metric(p50("walCommit"), "ms"),
        "stream.state_rows": metric(stats.median([b["state_rows"] for b in sel]), "count"),
        "stream.state_bytes": metric(stats.median([b["state_bytes"] for b in sel]), "bytes"),
        "stream.state_commit_ms_p50": metric(
            stats.median([b["state_commit_ms"] for b in sel]), "ms"),
        "stream.rows_per_batch_p50": metric(stats.median([b["input_rows"] for b in sel]), "count"),
        "stream.backlog_rows_max": metric(max(r["backlog_max"] for r in rungs), "count"),
        "stream.late_dropped": metric(sum(b["late_dropped"] for b in v["batches"]), "count"),
        "gen.lag_tail_ms": metric(lag_tail, "ms"),
        "exec.s": metric(ex.get("exec_s", 0.0), "s"),
        "exec.jobs": metric(ex.get("jobs", 0), "count"),
        "exec.stages": metric(ex.get("stages", 0), "count"),
        "exec.tasks": metric(ex.get("tasks", 0), "count"),
        "exec.task_run_s": metric(ex.get("task_run_s", 0.0), "s"),
        "exec.task_cpu_s": metric(ex.get("task_cpu_s", 0.0), "s"),
        "exec.gc_s": metric(ex.get("gc_s", 0.0), "s"),
        "exec.task_overhead_s": metric(ex.get("task_overhead_s", 0.0), "s"),
        "exec.shuffle_write_bytes": metric(ex.get("shuffle_write_bytes", 0), "bytes"),
        "exec.shuffle_read_bytes": metric(ex.get("shuffle_read_bytes", 0), "bytes"),
        "exec.spill_bytes": metric(ex.get("spill_bytes", 0), "bytes"),
        "exec.busy_frac": metric(ex.get("task_run_s", 0.0) / max(
            1e-9, raw["cores"] * ex.get("exec_s", 0.0)), "ratio"),
        "exec.speedup_vs_1core": metric(speedup or 0.0, "ratio"),
    }


def probe_metrics(raw):
    out = {}
    for name, p in raw.get("probes", {}).items():
        out[f"functions.{name}_rows_per_s"] = metric(p["rows"] / stats.median(p["walls"]), "1/s")
    return out


# ---- one run -------------------------------------------------------------------------

def jvm_cmd(classes, jars, tmp, plan_path):
    # a fixed set of JIT compiler threads, so Cpu.jitNs loses none of their time
    return (["java", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             "-XX:-UseDynamicNumberOfCompilerThreads"]
            + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
            + ["-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC",
               f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
               f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
               "-cp", f"{classes}:{jars}/*", "perfbench.Harness", str(plan_path)])


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run(args):
    root = Path.cwd()
    bdir = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    build_dir = root / (bdir if not os.path.isabs(bdir) else ".bench_build")
    if args.workload not in WORKLOADS:
        raise BenchError(f"unknown workload {args.workload}; known: {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    build_dir.mkdir(parents=True, exist_ok=True)
    jars = spark_jars(root)
    classes, stamp, compiled = build(root, build_dir, jars)
    host0 = (os.getloadavg()[0], cpu_times())
    data_dir = Path(datagen.DATA_DIR)

    run_dir = build_dir / "runs" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    try:
        result = run_workload(args, wl, build_dir, data_dir, run_dir, classes, jars,
                              stamp, compiled, host0)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for line in result:
        print(json.dumps(line))


def run_workload(args, wl, build_dir, data_dir, run_dir, classes, jars, stamp,
                 compiled, host0):
    n_cores = cores()
    setup_t0 = time.time()      # set-up: from here to the harness's ready session
    plan = {"workload": args.workload, "kind": wl["kind"], "data": str(data_dir),
            "out": str(run_dir / "raw.json"), "check_dir": str(run_dir / "check"),
            "cores": n_cores, "seconds": args.seconds, "trace": bool(args.trace),
            "probe_copies": PROBE_COPIES, "probe_reps": PROBE_REPS,
            "single_core": bool(args.trace) and wl["kind"] == "stream"}
    if wl["kind"] == "batch":
        plan["passes"] = stats.query_orders(wl["queries"], args.seed, 64)
        plan["min_warm_passes"] = wl["min_warm_passes"] * (2 if args.trace else 1)
        plan["warmup_passes"] = wl["warmup_passes"]
        plan["tables"] = wl["tables"]
    else:
        warm = wl["warmup_s"]
        segs = [(wl["nominal_eps"], warm + args.seconds)] + \
            [(r, wl["rung_s"]) for r in wl["ladder"]]
        n_events = sum(int(round(r * s)) for r, s in segs)
        events, schema = datagen.read_events(str(data_dir))
        cols = datagen.stream_events(events, args.seed, n_events)
        datagen.write_stream(str(run_dir / "events.parquet"), cols, schema)
        if plan["single_core"]:
            plan["single_core_segments"] = [{"rate": wl["nominal_eps"], "seconds": warm},
                                            {"rate": wl["ladder"][-1], "seconds": wl["rung_s"]}]
        plan.update({"events": str(run_dir / "events.parquet"),
                     "checkpoint": str(run_dir / "checkpoint"), "warmup_s": warm,
                     "tick_ms": TICK_MS,
                     "segments": [{"rate": r, "seconds": s} for r, s in segs]})
    plan_path = run_dir / "plan.json"
    plan_path.write_text(json.dumps(plan))

    limit = (BUILD_LIMIT_S if compiled else RUN_LIMIT_S) - (time.monotonic() - T_START)
    rc = run_child(jvm_cmd(classes, jars, run_dir / "tmp", plan_path), limit,
                   run_dir / "jvm.log", cwd=str(run_dir))
    if rc != 0:
        tail = (run_dir / "jvm.log").read_text(errors="replace").splitlines()[-15:]
        raise BenchError(f"harness exited {rc}:\n" + "\n".join(tail))
    raw = json.loads((run_dir / "raw.json").read_text())
    # the spans and raw counters of the latest run of each kind stay on disk
    (build_dir / "traces").mkdir(exist_ok=True)
    shutil.copy(run_dir / "raw.json", build_dir / "traces" / f"{args.workload}-trace{args.trace}.json")

    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "cores": n_cores}
    if wl["kind"] == "batch":
        failed = check_batch(raw, data_dir, build_dir / "oracle")
        attempted = len(wl["queries"])
        e2e, ungated = batch_end_to_end(raw, detail)
        layer = lambda raw: batch_layer(raw, n_cores, detail, build_dir, stamp)  # noqa: E731
    else:
        e2e, ungated, layer = stream_end_to_end(raw, plan, detail)
        failed = dict(raw.get("failed", {}))
        attempted = 1
    detail["failed"] = failed
    detail["failed_frac"] = len(failed) / attempted
    setup_s = raw["ready_epoch_ms"] / 1e3 - setup_t0
    detail["setup"] = {"setup_s": setup_s, "session_s": raw["session_s"],
                       "before_jvm_s": raw["jvm_start_epoch_ms"] / 1e3 - setup_t0}
    detail["host"] = host_record(*host0)
    detail["ungated"] = {k: v["value"] for k, v in ungated.items()}

    if not args.trace:
        metrics = {"setup_s": metric(setup_s, "s"), **e2e,
                   "peak_rss_mb": metric(raw["peak_rss_mb"], "MB")}
    else:
        m = {"core.session_s": metric(raw["session_s"], "s"), **ungated,
             **layer(raw)}
        m.update(probe_metrics(raw))
        m["failed_frac"] = metric(detail["failed_frac"], "ratio")
        h = detail["host"]
        m["host.load1_start"] = metric(h["load1_start"], "load")
        m["host.load1_end"] = metric(h["load1_end"], "load")
        m["host.steal_frac"] = metric(h["steal_frac"], "ratio")
        # a layer the workload does not run reads 0
        metrics = {name: m.get(name, metric(0.0, unit)) for name, unit in PER_LAYER}
    return [{"detail": detail},
            {"correct": not failed, "attempted": attempted, "failed": len(failed),
             "metrics": metrics}]


def batch_layer(raw, n_cores, detail, build_dir, stamp):
    """Per-layer metrics of a batch run, with the exact-count check against
    the first traced run of the same build."""
    ref_path = build_dir / "counts" / f"{raw['workload']}-{stamp[:16]}.json"
    ref = json.loads(ref_path.read_text()) if ref_path.is_file() else None
    m, counts = batch_per_layer(raw, n_cores, detail, ref)
    if ref is None:
        ref_path.parent.mkdir(parents=True, exist_ok=True)
        ref_path.write_text(json.dumps(counts))
    detail["counts_reference"] = "compared" if ref is not None else "recorded"
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        run(args)
    except BenchError as e:
        log(f"error: {e}")
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
