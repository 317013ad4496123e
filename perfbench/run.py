#!/usr/bin/env python3
"""Caster-to-sink and dashboard benchmark of the NTRIP monitor engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It compiles the engine and the
benchmark (`perfbench/build.py`), makes the run's inputs from the seed,
starts the load generator (`perfbench.Caster`, its own JVM) and the
engine (`perfbench.Engine`), checks what landed, and prints one JSON
object as its last line: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics as M  # noqa: E402

WORKLOADS = ("ingest_backfill", "live_mixed")
SETUP_TRIALS = 3
BACKFILL_FRAMES = 25_000      # per mountpoint and round
WARM_FRAMES = 1_500           # per mountpoint, warm-up stream of each setup trial
LIVE_RATE = 300.0             # frames/s per mountpoint
# unmeasured time before the window: backfill rounds (at least one)
# while the JIT finishes the decode path; live frames scheduled before it
WARMUP_S = {"ingest_backfill": 0.0, "live_mixed": 2.0}
DASH_TABLES = ("customer", "events", "lineitem", "nation", "orders")
DASH_SCALE = 0.1              # of sf0.1's row counts
ENGINE_HEAP = "3g"            # fixed size (-Xms = -Xmx): no heap-resizing noise
CASTER_HEAP = "1g"
ENGINE_TIMEOUT_S = 150        # a run must end within 180 s

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def cores():
    return len(os.sched_getaffinity(0))


def calibrate():
    """A fixed single-thread CPU task (ms, median of 3). A run whose
    before/after figures sit far above the usual ones was measured on a
    contended host."""
    def once():
        t0 = time.perf_counter()
        x = 0
        for i in range(300_000):
            x = (x * 1103515245 + i) & 0xFFFFFFFF
        return (time.perf_counter() - t0) * 1000.0
    return M.median([once() for _ in range(3)])


def java(classes, heap, main, args, work, log):
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(classes), main] + args
    return subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)


def stop(proc, grace=10):
    if proc is None or proc.poll() is not None:
        return
    try:
        os.killpg(proc.pid, signal.SIGTERM)
        proc.wait(grace)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    except ProcessLookupError:
        proc.wait()


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


# ---- correctness -----------------------------------------------------------

def check_ingest(landed, oracle, manifest, mounts, problems):
    """Frames lost or duplicated, and rows whose content differs from
    the batch decode of the same bytes. Returns the number failed."""
    frames = sum(manifest[m]["frames"] for m in mounts)
    cells = sum(manifest[m]["cells"] for m in mounts)
    failed = abs(frames - landed["distinct_packages"]) + landed["duplicates"]
    if failed:
        problems.append(f"{landed['distinct_packages']} distinct packages, "
                        f"{landed['duplicates']} duplicates, {frames} frames served")
    if landed["observations"] != cells:
        failed += 1
        problems.append(f"{landed['observations']} observation rows, {cells} cells served")
    for key in ("package_digest", "observation_digest"):
        if landed[key] != oracle[key]:
            failed += 1
            problems.append(f"{key} {landed[key]} != batch decode {oracle[key]}")
    if oracle["packages"] != frames or oracle["observations"] != cells:
        failed += 1
        problems.append("batch decode disagrees with the served counts")
    for m, hashes in landed["coordinates"].items():
        if not set(hashes) <= set(oracle["coordinates"].get(m, [])):
            failed += 1
            problems.append(f"coordinates upserted for {m} are not fixes it sent")
    return failed


def check_panels(refreshes, verdicts, problems):
    """Panels failed, or whose result differs from the first result
    (which must match DuckDB). Returns (attempted, failed)."""
    first = {}
    attempted = failed = 0
    for r in refreshes:
        for p in r:
            attempted += 1
            first.setdefault(p["name"], p["digest"])
            if p["error"] or p["digest"] != first[p["name"]]:
                failed += 1
                problems.append(f"panel {p['name']}: {p['error'] or 'result changed'}")
    for name, why in verdicts.items():
        if why is not None:
            failed += 1
            problems.append(f"panel {name} vs DuckDB: {why}")
    return attempted, failed


# ---- metrics ---------------------------------------------------------------

def panel_stats(refreshes, window):
    """Panel records, panel latencies (ms) and refresh walls (s) of the
    refreshes that started inside the window."""
    records, walls = [], []
    for r in refreshes:
        start = min(p["start_micros"] for p in r)
        if window[0] <= start < window[1]:
            walls.append((max(p["end_micros"] for p in r) - start) / 1e6)
            records += r
    return records, [(p["end_micros"] - p["start_micros"]) / 1000.0 for p in records], walls


def first_byte(served, mounts, start, end):
    ts = [t for m, t in served if m in mounts and start <= t <= end]
    return min(ts) if ts else start


def ingest_latencies(landed, mounts, frames, origin):
    """Per-frame ms from `origin` to the frame's acknowledgement."""
    index = M.ack_index(landed["ack_log"])
    out = []
    for m in mounts:
        for k in range(frames[m]):
            t = M.ack_time(index, m, k)
            if t is not None:
                out.append((t - origin) / 1000.0)
    return out


def measure(workload, rec, caster, manifest):
    """End-to-end figures and the raw per-workload facts behind them."""
    e2e, extra = {}, {}
    frames = {m: v["frames"] for m, v in manifest.items()}
    mounts = rec["mounts"]
    if workload == "ingest_backfill":
        # catch-up rounds pooled: all rows over all round times (first
        # byte served to last ack), and every frame's time from its
        # round's first byte to its ack
        walls, samples = [], []
        for r in rec["rounds"]:
            fb = first_byte(caster["served"], mounts, r["start_micros"], r["end_micros"])
            walls.append((r["last_ack_micros"] - fb) / 1e6)
            samples += ingest_latencies(r, mounts, frames, fb)
        e2e["obs_rows_per_s"] = sum(r["observations"] for r in rec["rounds"]) / sum(walls)
        extra["round_walls_s"] = [round(w, 3) for w in walls]
    else:
        window = tuple(rec["window_micros"])
        sched = M.live_schedule(caster["live_base_micros"], caster["period_micros"],
                                caster["live_mounts"])
        sched = {m: f for m, f in sched.items() if m in mounts}
        live = rec["live"]
        samples, missing = M.freshness(M.ack_index(live["ack_log"]), sched, frames, window)
        e2e["obs_rows_per_s"] = M.rate_between(rec["sink_batches"], window)
        extra["unacked_in_window"] = len(missing)
        offered = LIVE_RATE * len(mounts)
        extra["keepup_ratio"] = M.rate_between(M.total_events(live["ack_log"]), window) / offered
        late = [x / 1000.0 for m in mounts for k, x in enumerate(caster["late_micros"][m])
                if window[0] <= sched[m](k) < window[1]]
        extra["gen_late_ms_p99"] = M.supported_percentile(late, 99.0)[0]
        extra["panel_records"], extra["panels"], extra["walls"] = panel_stats(
            rec["refreshes"], window)
    e2e["fresh_p50_ms"] = M.percentile(samples, 50.0)
    e2e["fresh_p99_ms"], extra["fresh_tail_pct"], _ = M.supported_percentile(samples, 99.0)
    extra["fresh_samples"] = len(samples)
    e2e["setup_s"] = M.median(rec["setup_s"])
    return e2e, extra


def p50(xs):
    return M.percentile(xs, 50.0) if xs else 0.0


PER_LAYER = {
    # streaming.source (NtripClient / NtripSource)
    "source.chunks_per_s": "1/s", "source.backlog_chunks_p50": "count",
    "source.input_partitions_per_batch": "count", "source.gen_late_ms_p99": "ms",
    # rtcm (RtcmFraming / RtcmDecoder / MsmExpander), single-thread replay
    "rtcm.framing_ns_per_kb": "ns/KB", "rtcm.decode_ns_per_frame": "ns",
    "rtcm.expand_ns_per_obs": "ns", "rtcm.frames": "count", "rtcm.crc_rejects": "count",
    "rtcm.skipped_bytes": "B", "rtcm.obs_per_frame": "count",
    # streaming.batch (RtcmStreaming, from StreamingQueryProgress)
    "batch.batches": "count", "batch.trigger_ms_p50": "ms", "batch.add_batch_ms_p50": "ms",
    "batch.planning_ms_p50": "ms", "batch.latest_offset_ms_p50": "ms",
    "batch.wal_commit_ms_p50": "ms", "batch.commit_offsets_ms_p50": "ms",
    "batch.state_rows": "count", "batch.state_mem_mb": "MB",
    # etl.sink (Sinks.writeDecodedBatchJdbc)
    "sink.batch_ms_p50": "ms", "sink.jobs_per_batch": "count",
    "sink.jdbc_exec_per_batch": "count", "sink.jdbc_connections_per_batch": "count",
    "sink.rows_per_batch": "count",
    # queries (the dashboard panels; live_mixed only)
    "queries.construct_ms_p50": "ms", "queries.action_ms_p50": "ms",
    "queries.plan_ms_per_refresh": "ms", "queries.jobs_per_refresh": "count",
    "queries.stages_per_refresh": "count", "queries.scan_mb_per_refresh": "MB",
    "queries.shuffle_mb_per_refresh": "MB", "queries.refresh_p50_s": "s",
    "queries.panel_p50_ms": "ms", "queries.panel_p90_ms": "ms", "queries.panel_samples": "count",
    # spark (the shared executor)
    "spark.task_s": "s", "spark.core_util": "ratio", "spark.gc_s": "s", "spark.spill_mb": "MB",
    "spark.peak_exec_mem_mb": "MB",
    # the run itself
    "run.keepup_ratio": "ratio", "run.fresh_samples": "count", "run.error_ratio": "ratio",
    "run.peak_rss_mb": "MB",
    "run.calib_before_ms": "ms", "run.calib_after_ms": "ms",
    "run.traced_obs_rows_per_s": "1/s", "run.traced_fresh_p50_ms": "ms",
}


def per_layer(rec, e2e, extra, cores):
    """The traced run's per-layer figures (0 where a layer is idle)."""
    tr = rec["trace"]
    L = {}
    window_s = max(1e-9, (tr["window_ms"][1] - tr["window_ms"][0]) / 1000.0)
    prog = tr["progress"]

    def dur(key):
        return [p["duration_ms"].get(key, 0) for p in prog]

    L["source.chunks_per_s"] = sum(p["input_rows"] for p in prog) / window_s
    L["source.backlog_chunks_p50"] = p50([p["backlog"] for p in prog])
    L["source.input_partitions_per_batch"] = M.median(tr["source_scan_tasks"])
    L["source.gen_late_ms_p99"] = extra.get("gen_late_ms_p99", 0.0)

    c = rec["codec"]
    L["rtcm.framing_ns_per_kb"] = c["framing_ns"] / (c["bytes"] / 1024.0)
    L["rtcm.decode_ns_per_frame"] = c["decode_ns"] / c["frames"]
    L["rtcm.expand_ns_per_obs"] = c["expand_ns"] / max(1, c["obs"])
    L["rtcm.frames"] = c["frames"]
    L["rtcm.crc_rejects"] = c["crc_rejects"]
    L["rtcm.skipped_bytes"] = c["skipped_bytes"]
    L["rtcm.obs_per_frame"] = c["obs"] / c["frames"]

    L["batch.batches"] = len(prog)
    for name, key in (("trigger", "triggerExecution"), ("add_batch", "addBatch"),
                      ("planning", "queryPlanning"), ("latest_offset", "latestOffset"),
                      ("wal_commit", "walCommit"), ("commit_offsets", "commitOffsets")):
        L[f"batch.{name}_ms_p50"] = p50(dur(key))
    L["batch.state_rows"] = max([p["state_rows"] for p in prog], default=0)
    L["batch.state_mem_mb"] = max([p["state_bytes"] for p in prog], default=0) / 2**20

    sb = tr["sink_batches"]
    n_sb = max(1, len(sb))
    L["sink.batch_ms_p50"] = p50([b["ms"] for b in sb])
    L["sink.jobs_per_batch"] = tr["layers"].get("sink", {}).get("jobs", 0) / n_sb
    L["sink.jdbc_exec_per_batch"] = sum(b["executes"] for b in sb) / n_sb
    L["sink.jdbc_connections_per_batch"] = sum(b["connections"] for b in sb) / n_sb
    L["sink.rows_per_batch"] = sum(b["rows"] for b in sb) / n_sb

    walls, panels = extra.get("walls", []), extra.get("panels", [])
    q = tr["layers"].get("queries", {})
    in_window = extra.get("panel_records", [])

    def per_refresh(x):
        return x / len(walls) if walls else 0.0
    L["queries.construct_ms_p50"] = p50([p["construct_ms"] for p in in_window])
    L["queries.action_ms_p50"] = p50([p["action_ms"] for p in in_window])
    L["queries.plan_ms_per_refresh"] = per_refresh(tr["plan_ms"])
    L["queries.jobs_per_refresh"] = per_refresh(q.get("jobs", 0))
    L["queries.stages_per_refresh"] = per_refresh(q.get("stages", 0))
    L["queries.scan_mb_per_refresh"] = per_refresh(q.get("input_bytes", 0) / 2**20)
    L["queries.shuffle_mb_per_refresh"] = per_refresh(q.get("shuffle_bytes", 0) / 2**20)
    L["queries.refresh_p50_s"] = p50(walls)
    L["queries.panel_p50_ms"] = p50(panels)
    L["queries.panel_p90_ms"] = M.supported_percentile(panels, 90.0)[0] if panels else 0.0
    L["queries.panel_samples"] = len(panels)

    tot = tr["total"]
    L["spark.task_s"] = tot["task_ms"] / 1000.0
    L["spark.core_util"] = tot["task_ms"] / 1000.0 / (window_s * cores)
    L["spark.gc_s"] = tot["gc_ms"] / 1000.0
    L["spark.spill_mb"] = tot["spill_bytes"] / 2**20
    L["spark.peak_exec_mem_mb"] = tot["peak_exec_bytes"] / 2**20

    L["run.keepup_ratio"] = extra.get("keepup_ratio", 0.0)
    L["run.fresh_samples"] = extra["fresh_samples"]
    L["run.peak_rss_mb"] = rec["peak_rss_mb"]
    L["run.traced_obs_rows_per_s"] = e2e["obs_rows_per_s"]
    L["run.traced_fresh_p50_ms"] = e2e["fresh_p50_ms"]
    return L


UNITS = {
    "obs_rows_per_s": "1/s", "fresh_p50_ms": "ms", "fresh_p99_ms": "ms", "setup_s": "s",
}


# ---- the run -----------------------------------------------------------------

def run(args):
    if not os.path.isdir(os.path.join("src", "main", "scala")):
        sys.stderr.write("perfbench: no engine sources (src/main/scala) here; "
                         "run from the root of a checkout\n")
        return 2
    classes = build.build()
    n = cores()
    base = os.path.abspath(build.OUT)
    work = os.path.join(base, "run")
    shutil.rmtree(work, ignore_errors=True)
    caster_dir = os.path.join(work, "caster")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(caster_dir)
    live = args.workload == "live_mixed"
    data = os.path.join(base, "data", f"seed-{args.seed}-scale-{DASH_SCALE}")
    if live and not os.path.exists(os.path.join(data, "done")):
        import dashdata
        shutil.rmtree(data, ignore_errors=True)
        dashdata.generate(data, args.seed, DASH_SCALE)
        open(os.path.join(data, "done"), "w").close()

    calib_before = calibrate()
    caster = engine = None
    clog = open(os.path.join(work, "caster.log"), "w")
    elog = open(os.path.join(work, "engine.log"), "w")
    try:
        caster = java(classes, CASTER_HEAP, "perfbench.Caster", [
            "--dir", caster_dir, "--seed", str(args.seed), "--mounts", str(min(4, n)),
            "--frames", "0" if live else str(BACKFILL_FRAMES),
            "--warm-frames", str(WARM_FRAMES), "--rate", str(LIVE_RATE),
            "--live-frames",
            str(int(LIVE_RATE * (WARMUP_S[args.workload] + args.seconds))) if live else "0"],
            work, clog)
        engine = java(classes, ENGINE_HEAP, "perfbench.Engine", [
            "--workload", args.workload, "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(n), "--work", work,
            "--caster", caster_dir, "--setup-trials", str(SETUP_TRIALS),
            "--warmup", str(WARMUP_S[args.workload]), "--data", data,
            "--panels-in-flight", str(max(1, n // 2))], work, elog)
        try:
            rc = engine.wait(ENGINE_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        if rc != 0:
            sys.stderr.write(f"perfbench: engine failed ({rc})\n{tail(elog.name)}")
            return 1
        try:
            caster.wait(10)
        except subprocess.TimeoutExpired:
            sys.stderr.write("perfbench: caster did not stop\n")
            return 1
    finally:
        stop(engine)
        stop(caster)
        clog.close()
        elog.close()
    calib_after = calibrate()

    with open(os.path.join(work, "result.json")) as f:
        rec = json.load(f)
    with open(os.path.join(caster_dir, "manifest.json")) as f:
        manifest = json.load(f)
    with open(os.path.join(caster_dir, "caster.json")) as f:
        cast = json.load(f)

    problems = []
    attempted = failed = 0
    for r in (rec["live"],) if live else rec["rounds"]:
        attempted += sum(manifest[m]["frames"] for m in rec["mounts"])
        failed += check_ingest(r, rec["oracle"], manifest, rec["mounts"], problems)
    if rec["oracle"]["decode_errors"]:
        problems.append(f"{rec['oracle']['decode_errors']} frames decoded to dead letters")
        failed += rec["oracle"]["decode_errors"]
    if live:
        import oracle
        with open(os.path.join(work, "oracle_sql.json")) as f:
            sql = json.load(f)
        verdicts = oracle.check(data, DASH_TABLES, os.path.join(work, "panels"),
                                {k: v for k, v in sql.items() if v is not None},
                                os.path.join(work, "tmp"))
        verdicts.update({k: "no oracle SQL" for k, v in sql.items() if v is None})
        a, f_ = check_panels(rec["warmups"] + rec["refreshes"], verdicts, problems)
        attempted += a
        failed += f_

    e2e, extra = measure(args.workload, rec, cast, manifest)
    for p in problems[:20]:
        print("perfbench: FAIL " + p)
    error_ratio = failed / max(1, attempted)
    info = {"workload": args.workload, "seed": args.seed, "cores": n,
            "calib_before_ms": round(calib_before, 3), "calib_after_ms": round(calib_after, 3),
            "setup_trials_s": rec["setup_s"], "error_ratio": error_ratio}
    for k in ("round_walls_s", "fresh_samples", "fresh_tail_pct", "keepup_ratio",
              "unacked_in_window", "gen_late_ms_p99"):
        if k in extra:
            info[k] = extra[k]
    if live:
        info["refreshes"] = len(extra["walls"])
        info["panel_samples"] = len(extra["panels"])
    print("perfbench: " + json.dumps(info))
    if args.trace:
        layers = per_layer(rec, e2e, extra, n)
        layers["run.error_ratio"] = error_ratio
        layers["run.calib_before_ms"] = calib_before
        layers["run.calib_after_ms"] = calib_after
        out = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        out = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0 and not problems, "attempted": max(1, attempted),
                      "failed": failed, "metrics": out}))
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a termination signal still stops the child JVMs (the finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(run(args))


if __name__ == "__main__":
    main()
