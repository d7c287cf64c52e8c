"""Metrics from what one benchmark JVM recorded (see README.md for what each
one means and which layer metric should move which end-to-end metric)."""
import statistics


def _m(value, unit, note=None):
    d = {"value": value, "unit": unit}
    if note:
        d["note"] = note
    return d


def tail(values):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, samples), but never below the median: with fewer
    than 21 samples no percentile above the median has ten beyond it."""
    xs = sorted(values)
    k = max(len(xs) - 11, (len(xs) - 1) // 2)
    return xs[k], 100.0 * (k + 1) / len(xs), len(xs)


def _latency(name, lat, unit="ms"):
    p50 = statistics.median(lat)
    t, pct, n = tail(lat)
    return {f"{name}_p50_ms": _m(p50, unit, f"median of {n}"),
            f"{name}_tail_ms": _m(t, unit, f"p{pct:.1f} of {n}, {n - round(pct * n / 100)} beyond")}


def _per_entry(name, ops, key):
    """Entry latencies, fed by every entry: the mean over entries of each
    entry's median over the passes, and the mean over entries of each
    entry's slowest pass. A single order statistic of all the samples
    would be the time of whichever entry sits at that rank, and a change
    to most entries would move neither figure."""
    by = {}
    for o in ops:
        by.setdefault(o["template"], []).append(key(o))
    n, passes = len(by), min(len(v) for v in by.values())
    return {f"{name}_p50_ms": _m(statistics.fmean(statistics.median(v) for v in by.values()),
                                 "ms", f"mean over {n} entries of each entry's median of "
                                       f"{passes} passes"),
            f"{name}_tail_ms": _m(statistics.fmean(max(v) for v in by.values()), "ms",
                                  f"mean over {n} entries of each entry's slowest of "
                                  f"{passes} passes")}


def _timed(jvm):
    return [o for o in jvm["ops"] if o["phase"] == "timed"]


def end_to_end(jvm, verdict):
    ops = _timed(jvm)
    wall_s = (jvm["timed_to_ms"] - jvm["timed_from_ms"]) / 1000.0
    lat = [o["end_ms"] - o["start_ms"] for o in ops]
    wlat = [o["end_ms"] - o["start_ms"] for o in ops if o["kind"] == "write"]
    done = len(ops) - verdict["failed"]
    out = {"setup_s": _m(jvm["setup_s"], "s", "JVM start to first timed op"),
           "queries_per_s": _m(done / wall_s, "1/s", f"{done} ops in {wall_s:.2f} s")}
    if jvm["workload"] == "wire_mixed":
        out.update(_latency("latency", lat))
        out.update(_latency("write", wlat))
    else:
        # every entry op is a noop-sink write; `write_*` time the write call
        # alone, without the entry's build
        out.update(_per_entry("latency", ops, lambda o: o["end_ms"] - o["start_ms"]))
        out.update(_per_entry("write", ops, lambda o: o["write_ms"]))
    out["heap_live_mb"] = _m(jvm["heap_live_mb"], "MB", "after forced GC")
    return out


def _union(iv):
    total, cur = 0.0, None
    for a, b in sorted(iv):
        if cur is None or a > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return total + (cur[1] - cur[0] if cur else 0.0)


def self_times(spans):
    """Per span id: its duration minus the part its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cover = [(max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                 for c in kids.get(s["id"], [])]
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - _union([iv for iv in cover if iv[1] > iv[0]])
    return out


def self_by_name(spans):
    """Self time summed per span name."""
    own = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + own[s["id"]]
    return out


def per_layer(jvm, verdict):
    """Per-layer metrics of a traced run: sums over the traced ops (the
    timed entries, or the in-process replay of the wire script), plus the
    client-side wire numbers of the timed statements."""
    wire = jvm["workload"] == "wire_mixed"
    traced = [o for o in jvm["ops"] if o["phase"] == ("replay" if wire else "timed")]
    ids = {o["op"] for o in traced}
    spans = [s for s in jvm["spans"] if s["op"] in ids]
    per_op = jvm["counters"]["per_op"]
    c = [per_op[i] for i in ids]
    cores = jvm["env"]["cores"]

    def dur(name):
        return sum(s["end_ms"] - s["start_ms"] for s in spans if s["name"] == name)

    def tot(key):
        return sum(x[key] for x in c)

    wall = sum(o["end_ms"] - o["start_ms"] for o in traced)
    tasks = tot("tasks")
    if wire:
        rows = sum(len(o["rows"]) for o in traced)
    else:
        rows = sum(verdict["result_rows"].get(o["template"], 0) for o in traced)
    out = {
        "entry.build_ms": _m(dur("entry.build"), "ms"),
        "entry.build_jobs": _m(sum(jvm["counters"]["build_jobs"].get(i, 0) for i in ids), "count"),
        "dialect.rewrite_ms": _m(dur("dialect.rewrite"), "ms"),
        "dialect.calls": _m(sum(1 for s in spans if s["name"] == "dialect.rewrite"), "count"),
        "session.sql_ms": _m(dur("session.sql"), "ms"),
        "catalyst.analysis_ms": _m(dur("catalyst.analysis"), "ms"),
        "catalyst.optimization_ms": _m(dur("catalyst.optimization"), "ms"),
        "catalyst.planning_ms": _m(dur("catalyst.planning"), "ms"),
        "exec.jobs": _m(tot("jobs"), "count"),
        "exec.stages": _m(tot("stages"), "count"),
        "exec.tasks": _m(tasks, "count"),
        "exec.driver_gap_ms": _m(wall - tot("task_busy_ms"), "ms",
                                 "op wall minus the union of its task intervals"),
        "exec.task_cpu_ms": _m(tot("task_cpu_ms"), "ms"),
        "exec.task_wait_ms": _m(tot("task_run_ms") - tot("task_cpu_ms"), "ms", "run minus CPU"),
        "exec.shuffle_fetch_wait_ms": _m(tot("shuffle_fetch_wait_ms"), "ms"),
        "exec.scan_bytes": _m(tot("scan_bytes"), "B"),
        "exec.scan_rows": _m(tot("scan_rows"), "count"),
        "exec.shuffle_write_bytes": _m(tot("shuffle_write_bytes"), "B"),
        "exec.shuffle_read_bytes": _m(tot("shuffle_read_bytes"), "B"),
        "exec.spill_bytes": _m(tot("spill_bytes"), "B"),
        "exec.core_busy_frac": _m(tot("task_run_ms") / (wall * cores) if wall else 0.0, "ratio",
                                  f"task run time over {wall:.0f} ms x {cores} cores"),
        "exec.task_success_frac": _m(tot("tasks_ok") / tasks if tasks else 1.0, "ratio",
                                     f"{tot('tasks_ok')} of {tasks} tasks"),
        "exec.result_rows": _m(rows, "count"),
        "jvm.gc_ms": _m(jvm["jvm_gc_ms"], "ms", "driver JVM, timed phase"),
        "exec.executor_gc_ms": _m(tot("executor_gc_ms"), "ms"),
    }
    out.update(_wire(jvm) if wire else {k: _m(0, u, "no wire statements") for k, u in WIRE_UNITS})
    return out


WIRE_UNITS = [("wire.ttfb_ms", "ms"), ("wire.drain_ms", "ms"), ("wire.bytes_received", "B"),
              ("wire.jobs_per_stmt", "ratio"), ("wire.protocol_ms", "ms")]


def _wire(jvm):
    timed = _timed(jvm)
    replay = [o for o in jvm["ops"] if o["phase"] == "replay"]

    def by_template(ops):
        d = {}
        for o in ops:
            d.setdefault(o["template"], []).append(o["end_ms"] - o["start_ms"])
        return {t: statistics.median(v) for t, v in d.items()}

    sock, local = by_template(timed), by_template(replay)
    gaps = [sock[t] - local[t] for t in sock if t in local]
    jobs = jvm["counters"]["ungrouped"]["jobs"]
    return {
        "wire.ttfb_ms": _m(statistics.median(o["ttfb_ms"] for o in timed), "ms", "median"),
        "wire.drain_ms": _m(statistics.median(o["end_ms"] - o["start_ms"] - o["ttfb_ms"]
                                              for o in timed), "ms", "median"),
        "wire.bytes_received": _m(sum(o["bytes"] for o in timed), "B"),
        "wire.jobs_per_stmt": _m(jobs / len(timed), "ratio", f"{jobs} jobs, {len(timed)} statements"),
        "wire.protocol_ms": _m(statistics.median(gaps) if gaps else 0.0, "ms",
                               f"median over {len(gaps)} templates of wire minus in-process median"),
    }
