"""Turns a raw run record (written by the benchmark JVM) into the
end-to-end metrics, the per-layer metrics and the failure count."""
import metrics as M

END_TO_END = [
    ("setup_s", "s"), ("work_s", "s"), ("latency_p50_ms", "ms"),
    ("latency_tail_ms", "ms"), ("mem_peak_mb", "MB"),
]

STREAM_PHASES = [
    ("trigger_ms", "triggerExecution"), ("latest_offset_ms", "latestOffset"),
    ("get_batch_ms", "getBatch"), ("query_planning_ms", "queryPlanning"),
    ("add_batch_ms", "addBatch"), ("wal_commit_ms", "walCommit"),
    ("commit_offsets_ms", "commitOffsets"),
]

# (metric, span names, measured phase only). Set-up spans are summed
# over the run; measured-phase spans per measurement unit.
SELF_SPANS = [
    ("self.session_ms", {"GraftSession.local"}, False),
    ("self.selector_ms", {"Selector.parse", "Selector.compileExpr"}, False),
    ("self.stream_trigger_ms", {"stream.trigger"}, True),
    ("self.registry_build_ms", {"SparkEntry.queries"}, True),
    ("self.registry_plan_ms", {"queryExecution.executedPlan"}, True),
    ("self.registry_exec_ms", {"write.noop"}, True),
    ("self.spark_job_ms", {"spark.job"}, True),
    ("self.spark_stage_ms", {"spark.stage"}, True),
    ("self.spark_task_ms", {"spark.task"}, True),
]

PER_LAYER = (
    [("session.build_ms", "ms"), ("selector.parse_ms", "ms"), ("selector.compile_ms", "ms"),
     ("selector.props_refs", "count"), ("selector.props_keys", "count")]
    + [(f"stream.{n}.{s}", "ms") for n, _ in STREAM_PHASES for s in ("p50", "tail")]
    + [("stream.state_rows", "count"), ("stream.state_mem_mb", "MB"),
       ("stream.state_commit_ms", "ms"), ("stream.triggers", "count"),
       ("stream.rows_per_trigger", "count"), ("stream.rows_per_s", "1/s"),
       ("stream.backlog_files", "count"), ("gen.late_ms", "ms"),
       ("registry.build_ms", "ms"), ("registry.plan_ms", "ms"), ("registry.exec_ms", "ms"),
       ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
       ("spark.task_busy_ms", "ms"), ("spark.task_cpu_ms", "ms"),
       ("spark.sched_delay_ms", "ms"), ("spark.task_max_ms", "ms"),
       ("spark.task_p50_ms", "ms"), ("spark.gc_ms", "ms"),
       ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
       ("spark.spill_bytes", "bytes"), ("spark.peak_exec_mem_mb", "MB"),
       ("jvm.live_heap_peak_mb", "MB"), ("jvm.rss_peak_mb", "MB"),
       ("jvm.gc_pause_ms", "ms"), ("jvm.jit_ms", "ms"), ("proc.cpu_s", "s"),
       ("host.steal_pct", "%"),
       ("samples.latency", "count"), ("samples.latency_tail_pct", "%"),
       ("samples.windows", "count")]
    + [(n[0], "ms") for n in SELF_SPANS]
)

# Per-layer metrics where a larger value is the better one.
HIGHER_IS_BETTER = {"stream.rows_per_trigger", "stream.rows_per_s", "samples.latency",
                    "samples.latency_tail_pct", "samples.windows"}


class Summary:
    def __init__(self):
        self.e2e = {}
        self.layer = {k: 0.0 for k, _ in PER_LAYER}
        self.failed = 0
        self.attempted = 0
        self.problems = []
        self.notes = {}


def _live(raw, s):
    """filter_live: per-file latency from due time to the end of the
    trigger that finished the file; files attributed to triggers by
    cumulative numInputRows."""
    live = raw["live"]
    prog = sorted(raw["progress"], key=lambda p: p["batchId"])
    prog = [p for p in prog if p["numInputRows"] > 0]
    due, pub = live["due_ms"], live["pub_ms"]
    which = M.attribute_files([p["numInputRows"] for p in prog], live["warm_rows"],
                              live["rows_per_file"], len(due))
    done = [None if t is None else M.trigger_end_ms(prog[t]) for t in which]
    lat = []
    for i, d in enumerate(done):
        if d is None or d - due[i] > live["deadline_ms"]:
            s.failed += 1
            s.problems.append(f"file {i} not processed within {live['deadline_ms']} ms")
        else:
            lat.append(d - due[i])
    s.attempted += len(due)
    bl = M.backlog(due, done)
    over = sum(1 for b in bl if b > 1)
    if over:
        s.failed += over
        s.problems.append(f"INVALID RUN: backlog above one file at {over} publications "
                          f"(max {max(bl)}); the period is too close to the trigger time")
    finished = [d for d in done if d is not None]
    work_ms = (max(finished) if finished else raw["measure_end_ms"]) - due[0]
    measured = [p for p in prog if M.parse_ts_ms(p["timestamp"]) >= due[0] - 1]
    s.layer["stream.backlog_files"] = max(bl)
    s.layer["gen.late_ms"] = max(p - d for p, d in zip(pub, due))
    return lat, work_ms / 1000.0, measured, len(due)


def _fanout(raw, s):
    d = raw["drain"]
    lat = [t for drain in d["trigger_ms"] for t in drain]
    return lat, None, raw["progress"], len(d["trigger_ms"])


def _registry(raw, s, expected):
    r = raw["registry"]
    # one sample per key: its median build + plan + exec time over the
    # passes (keys differ in cost by 10x, so pooling every run would
    # put the percentiles in the gaps between keys)
    per_key = {}
    for p in r["passes"]:
        for m in p:
            if "error" not in m:
                per_key.setdefault(m["key"], []).append(m["build_ms"] + m["plan_ms"] + m["exec_ms"])
    lat = [M.median(v) for v in per_key.values()]
    for k in ("build_ms", "plan_ms", "exec_ms"):
        s.layer[f"registry.{k}"] = M.median(
            [sum(m.get(k, 0.0) for m in p) for p in r["passes"]])
    if expected is not None:
        for p in [r["warm"]] + r["passes"]:
            for m in p:
                want = expected.get(m["key"])
                ok = want is not None and "error" not in m and \
                    m["rows"] == want["rows"] and m["hash"] == want["hash"]
                s.attempted += 1
                if not ok:
                    s.failed += 1
                    s.problems.append(f"{m['key']}: {m.get('error') or (m['rows'], m['hash'])}"
                                      f" vs recorded {want}")
    return lat, None, [], len(r["passes"])


def _stream_layer(s, prog):
    if not prog:
        return
    for name, key in STREAM_PHASES:
        xs = [p["durationMs"].get(key, 0) for p in prog]
        s.layer[f"stream.{name}.p50"] = M.median(xs)
        s.layer[f"stream.{name}.tail"] = M.tail(xs)[0]
    ops = [o for p in prog for o in p.get("stateOperators", [])]
    if ops:
        s.layer["stream.state_rows"] = max(o["numRowsTotal"] for o in ops)
        s.layer["stream.state_mem_mb"] = max(o["memoryUsedBytes"] for o in ops) / 2**20
        s.layer["stream.state_commit_ms"] = M.median([o.get("commitTimeMs", 0) for o in ops])
    rows = sum(p["numInputRows"] for p in prog)
    busy = sum(p["durationMs"].get("triggerExecution", 0) for p in prog)
    s.layer["stream.triggers"] = len(prog)
    s.layer["stream.rows_per_trigger"] = M.median([p["numInputRows"] for p in prog])
    s.layer["stream.rows_per_s"] = rows / (busy / 1000.0) if busy else 0.0


def _span_layer(s, raw, units):
    t0 = raw["measure_start_ms"] * 1000
    t1 = raw["measure_end_ms"] * 1000
    spans = raw.get("spans", [])
    selfs = M.self_times(spans)
    for metric, names, measured in SELF_SPANS:
        total = sum(selfs[x["id"]] for x in spans if x["name"] in names
                    and (not measured or t0 <= x["start"] <= t1)) / 1000.0
        s.layer[metric] = total / units if measured else total
    tasks = [x for x in spans if x["name"] == "spark.task" and t0 <= x["start"] <= t1]
    jobs = [x for x in spans if x["name"] == "spark.job" and t0 <= x["start"] <= t1]
    stages = [x for x in spans if x["name"] == "spark.stage" and t0 <= x["start"] <= t1]
    a = [x.get("attrs", {}) for x in tasks]
    dur = [(x["end"] - x["start"]) / 1000.0 for x in tasks]
    s.layer["spark.jobs"] = len(jobs) / units
    s.layer["spark.stages"] = len(stages) / units
    s.layer["spark.tasks"] = len(tasks) / units
    s.layer["spark.task_busy_ms"] = sum(dur) / units
    s.layer["spark.task_cpu_ms"] = sum(x.get("cpu_ms", 0) for x in a) / units
    s.layer["spark.sched_delay_ms"] = sum(
        max(0.0, d - x.get("run_ms", 0) - x.get("deser_ms", 0) - x.get("ser_ms", 0))
        for d, x in zip(dur, a)) / units
    s.layer["spark.task_max_ms"] = max(dur) if dur else 0.0
    s.layer["spark.task_p50_ms"] = M.median(dur)
    s.layer["spark.gc_ms"] = sum(x.get("gc_ms", 0) for x in a) / units
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        s.layer[f"spark.{k}"] = sum(x.get(k, 0) for x in a) / units
    s.layer["spark.peak_exec_mem_mb"] = max([x.get("peak_exec_mem_bytes", 0) for x in a] or [0]) / 2**20


def summarize(raw, expected=None):
    s = Summary()
    s.attempted = raw.get("attempted", 0)
    s.failed = raw.get("failed", 0)
    s.problems = list(raw.get("problems", []))
    if "measure_end_ms" not in raw:
        return s
    wl = raw["provenance"]["workload"]
    if wl == "registry_batch":
        lat, work_s, prog, units = _registry(raw, s, expected)
    else:
        lat, work_s, prog, units = (_live if wl == "filter_live" else _fanout)(raw, s)
    windows = raw["windows"]
    if work_s is None:
        work_s = M.median([(w["end_ms"] - w["start_ms"]) / 1000.0 for w in windows])
    tail, tail_pct, n = M.tail(lat) if lat else (0.0, 0.0, 0)
    s.e2e = {
        "setup_s": (raw["measure_start_ms"] - raw["jvm_start_ms"] - raw["staging_ms"]) / 1000.0,
        "work_s": work_s,
        "latency_p50_ms": M.median(lat),
        "latency_tail_ms": tail,
        "mem_peak_mb": M.mem_peak_mb(raw["gc"], windows),
    }
    s.notes = {"fail_ratio": s.failed / max(1, s.attempted), "latency_samples": n,
               "latency_tail_pct": round(tail_pct, 1), "staging_s": raw["staging_ms"] / 1000.0,
               "windows": len(windows)}

    sel = raw.get("selectors", {})
    s.layer["session.build_ms"] = raw["session_build_ms"]
    s.layer["selector.parse_ms"] = sel.get("parse_ms", 0.0)
    s.layer["selector.compile_ms"] = sel.get("compile_ms", 0.0)
    s.layer["selector.props_refs"] = sel.get("props_refs", 0)
    s.layer["selector.props_keys"] = sel.get("props_keys", 0)
    _stream_layer(s, prog)
    gc = [g for g in raw["gc"] if raw["measure_start_ms"] <= g["t_ms"] <= raw["measure_end_ms"]]
    s.layer["jvm.live_heap_peak_mb"] = max([g["used_after"] for g in gc] or [0]) / 2**20
    s.layer["jvm.rss_peak_mb"] = raw["rss_peak_kb"] / 1024.0
    s.layer["jvm.gc_pause_ms"] = sum(g["pause_ms"] for g in gc) / units
    s.layer["jvm.jit_ms"] = (raw["jit_ms_end"] - raw["jit_ms_start"]) / units
    s.layer["proc.cpu_s"] = (raw["cpu_ns_end"] - raw["cpu_ns_start"]) / 1e9 / units
    steal = M.steal_pct(raw["proc_stat_start"], raw["proc_stat_end"]) \
        if raw.get("proc_stat_start") else 0.0
    s.layer["host.steal_pct"] = steal
    s.notes["host.steal_pct"] = round(steal, 2)
    s.layer["samples.latency"] = n
    s.layer["samples.latency_tail_pct"] = tail_pct
    s.layer["samples.windows"] = len(windows)
    if raw.get("spans"):
        _span_layer(s, raw, units)
    return s
