"""Turns a run record (written by graft.enginebench.BenchMain) into the
benchmark's metrics: the end-to-end ones from the measured operations, the
per-layer ones from the spans, Spark jobs and stages of a traced run."""
import json

import stats

# Span names of the measured operations, by layer.
MERGE, MIRROR = "merge.applyEpoch", "mirror.sync"
COMPACT, EXPIRE = "maint.compact", "maint.expire"
LOOKUP, FEED, SCAN = "table.lookup", "table.feed", "table.scan"
READS = (LOOKUP, FEED, SCAN)

# Per workload: the operation whose latency is `op_p50_ms`, and the one
# whose latency is `downstream_p50_ms` (a consumer of the change stream).
PRIMARY = {"backfill": MERGE, "trickle": MERGE, "serve": LOOKUP}
DOWNSTREAM = {"trickle": MIRROR, "serve": FEED}

END_TO_END = [
    ("setup_s", "s"), ("peak_rss_mb", "MB"), ("throughput_per_s", "1/s"),
    ("op_p50_ms", "ms"), ("downstream_p50_ms", "ms"), ("space_amp", "ratio"),
]

PER_LAYER = [
    ("merge.epoch_s", "s"), ("merge.self_s", "s"), ("merge.jobs", "count"),
    ("merge.stages", "count"), ("merge.tasks", "count"),
    ("merge.task_busy_frac", "frac"), ("merge.input_bytes_per_event", "B"),
    ("merge.shuffle_bytes_per_event", "B"), ("merge.spill_bytes", "B"),
    ("merge.gc_frac", "frac"), ("merge.useful_frac", "frac"),
    ("table.bytes_written_per_epoch", "B"),
    ("table.rows_rewritten_per_row_applied", "ratio"),
    ("table.files_written", "count"), ("table.files_carried", "count"),
    ("table.metadata_bytes_per_commit", "B"),
    ("table.lookup_files_opened", "count"), ("table.lookup_jobs", "count"),
    ("table.lookup_bytes_read", "B"), ("table.feed_files_read", "count"),
    ("table.feed_bytes_read", "B"), ("table.scan_bytes_read", "B"),
    ("table.read_self_s", "s"), ("table.lookup_self_s", "s"),
    ("table.feed_self_s", "s"), ("table.scan_self_s", "s"),
    ("mirror.sync_s", "s"), ("mirror.self_s", "s"), ("mirror.jobs", "count"),
    ("mirror.tasks", "count"), ("mirror.rows_applied", "count"),
    ("mirror.full_syncs", "count"),
    ("maint.compact_s", "s"), ("maint.compact_bytes_rewritten", "B"),
    ("maint.tombstones_purged", "count"), ("maint.expire_s", "s"),
    ("maint.files_deleted", "count"),
    ("setup.log_write_s", "s"), ("setup.preload_s", "s"),
    ("setup.warmup_s", "s"),
]


def secs(span):
    return (span["end"] - span["start"]) / 1000.0


def ops(record, name):
    """Measured operations named `name`, in run order."""
    return [s for s in record["spans"]
            if s["kind"] == "op" and s["name"] == name]


def setup_phases(record):
    """Top-level set-up spans by name (seconds)."""
    return {s["name"]: secs(s) for s in record["spans"]
            if s["kind"] == "setup" and s["parent"] == -1}


def med(xs, default=0.0):
    return stats.median(xs) if xs else default


def mean(xs, default=0.0):
    return sum(xs) / len(xs) if xs else default


# ---- end-to-end -------------------------------------------------------------

def end_to_end(record):
    w = record["workload"]
    measured = [s for s in record["spans"] if s["kind"] == "op"]
    busy = sum(secs(s) for s in measured)
    if w == "serve":
        work = len(measured)
    else:
        work = sum(s["attrs"].get("events", 0) for s in ops(record, MERGE))
    out = {
        "setup_s": sum(setup_phases(record).values()),
        "peak_rss_mb": record["peak_rss_mb"],
        "throughput_per_s": work / busy if busy else 0.0,
        "op_p50_ms": med([secs(s) * 1000 for s in ops(record, PRIMARY[w])]),
        "space_amp": record["results"].get("space_amp", 0.0),
    }
    if w in DOWNSTREAM:
        out["downstream_p50_ms"] = med(
            [secs(s) * 1000 for s in ops(record, DOWNSTREAM[w])])
    return out


# ---- per-layer --------------------------------------------------------------

def attribute(record):
    """Map each span id to the Spark jobs and stages it submitted. A job or
    stage without a span tag goes to the innermost span that was open when
    it started."""
    spans = record["spans"]

    def innermost(t):
        best = None
        for s in spans:
            if s["start"] <= t <= s["end"] and (
                    best is None or s["start"] >= best["start"]):
                best = s
        return best["id"] if best else -1

    jobs, stages = {}, {}
    for j in record["jobs"]:
        sid = j["span"] if j["span"] >= 0 else innermost(j["start"])
        jobs.setdefault(sid, []).append(j)
    for st in record["stages"]:
        sid = st["span"] if st["span"] >= 0 else innermost(st["submit"])
        stages.setdefault(sid, []).append(st)
    return jobs, stages


def descendants(record, sid):
    kids = {}
    for s in record["spans"]:
        kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = [], [sid]
    while todo:
        x = todo.pop()
        out.append(x)
        todo.extend(kids.get(x, []))
    return out


def span_self_s(record, span, jobs):
    """Span duration minus the union of its (and its children's) Spark job
    intervals: driver time outside any job."""
    intervals = [(j["start"], j["end"] if j["end"] >= 0 else span["end"])
                 for d in descendants(record, span["id"])
                 for j in jobs.get(d, [])]
    return stats.self_time(span["start"], span["end"], intervals) / 1000.0


def per_layer(record):
    jobs, stages = attribute(record)
    nproc = record["host"]["nproc"]

    def stage_sum(spans, key):
        return sum(st[key] for s in spans for st in stages.get(s["id"], []))

    def completed(spans):
        return sum(1 for s in spans for st in stages.get(s["id"], [])
                   if st["complete"] >= 0)

    def njobs(spans):
        return sum(len(jobs.get(s["id"], [])) for s in spans)

    def attr(spans, key):
        return [s["attrs"].get(key, 0.0) for s in spans]

    m = {}
    ep = ops(record, MERGE)
    events = sum(attr(ep, "events"))
    extracted = sum(attr(ep, "rows_extracted"))
    applied = sum(attr(ep, "rows_applied")) + sum(attr(ep, "deletes_applied"))
    run_ms = stage_sum(ep, "run_ms")
    busy_ms = sum(secs(s) for s in ep) * 1000
    n = len(ep) or 1
    m["merge.epoch_s"] = med([secs(s) for s in ep])
    m["merge.self_s"] = med([span_self_s(record, s, jobs) for s in ep])
    m["merge.jobs"] = njobs(ep) / n
    m["merge.stages"] = completed(ep) / n
    m["merge.tasks"] = stage_sum(ep, "tasks") / n
    m["merge.task_busy_frac"] = run_ms / (busy_ms * nproc) if busy_ms else 0.0
    m["merge.input_bytes_per_event"] = (
        stage_sum(ep, "input_bytes") / events if events else 0.0)
    m["merge.shuffle_bytes_per_event"] = (
        stage_sum(ep, "shuffle_write_bytes") / events if events else 0.0)
    m["merge.spill_bytes"] = stage_sum(ep, "spill_bytes") / n
    m["merge.gc_frac"] = stage_sum(ep, "gc_ms") / run_ms if run_ms else 0.0
    m["merge.useful_frac"] = applied / extracted if extracted else 0.0
    m["table.bytes_written_per_epoch"] = mean(attr(ep, "bytes_written"))
    m["table.rows_rewritten_per_row_applied"] = (
        sum(attr(ep, "rows_written")) / applied if applied else 0.0)
    m["table.files_written"] = mean(attr(ep, "files_written"))
    m["table.files_carried"] = mean(attr(ep, "files_carried"))
    m["table.metadata_bytes_per_commit"] = mean(attr(ep, "metadata_bytes"))

    lk, fd, sc = (ops(record, x) for x in READS)
    m["table.lookup_files_opened"] = mean(attr(lk, "files_opened"))
    m["table.lookup_jobs"] = njobs(lk) / (len(lk) or 1)
    m["table.lookup_bytes_read"] = mean(attr(lk, "fs.bytesRead"))
    m["table.feed_files_read"] = mean(attr(fd, "files_read"))
    m["table.feed_bytes_read"] = mean(attr(fd, "fs.bytesRead"))
    m["table.scan_bytes_read"] = mean(attr(sc, "fs.bytesRead"))
    m["table.read_self_s"] = med(
        [span_self_s(record, s, jobs) for s in lk + fd + sc])
    for name, spans in (("lookup", lk), ("feed", fd), ("scan", sc)):
        m[f"table.{name}_self_s"] = med(
            [span_self_s(record, s, jobs) for s in spans])

    mi = ops(record, MIRROR)
    m["mirror.sync_s"] = med([secs(s) for s in mi])
    m["mirror.self_s"] = med([span_self_s(record, s, jobs) for s in mi])
    m["mirror.jobs"] = njobs(mi) / (len(mi) or 1)
    m["mirror.tasks"] = stage_sum(mi, "tasks") / (len(mi) or 1)
    m["mirror.rows_applied"] = mean(attr(mi, "rows_applied"))
    m["mirror.full_syncs"] = sum(attr(mi, "full_sync"))

    co, ex = ops(record, COMPACT), ops(record, EXPIRE)
    m["maint.compact_s"] = med([secs(s) for s in co])
    m["maint.compact_bytes_rewritten"] = mean(attr(co, "bytes_rewritten"))
    m["maint.tombstones_purged"] = mean(attr(co, "tombstones_purged"))
    m["maint.expire_s"] = med([secs(s) for s in ex])
    m["maint.files_deleted"] = mean(attr(ex, "files_deleted"))

    phases = setup_phases(record)
    for p in ("log_write", "preload", "warmup"):
        m[f"setup.{p}_s"] = phases.get(f"setup.{p}", 0.0)
    return m


# ---- result and report ------------------------------------------------------

def correct(record):
    return record["attempted"] >= 1 and record["failed"] == 0 and all(
        c["fail"] == 0 for c in record["checks"].values())


def result(record, per_layer_run):
    values = per_layer(record) if per_layer_run else end_to_end(record)
    units = dict(PER_LAYER if per_layer_run else END_TO_END)
    return {
        "correct": correct(record),
        "attempted": int(record["attempted"]),
        "failed": int(record["failed"]),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in values.items()},
    }


def summary(xs, unit, scale=1.0):
    """median [q1, q3] n=... of a sample list."""
    if not xs:
        return "n/a (no samples)"
    q1, q2, q3 = stats.quartiles([x * scale for x in xs])
    return f"{q2:.4g} {unit} [q1 {q1:.4g}, q3 {q3:.4g}] n={len(xs)}"


def tail(xs, unit, scale=1.0):
    p = stats.tail_percentile(len(xs))
    if p is None:
        return f"n/a (n={len(xs)}: no percentile has 10 samples beyond it)"
    return f"p{p:g} = {stats.percentile(xs, p) * scale:.4g} {unit} n={len(xs)}"


def report(record):
    """Human-readable lines: provenance, the workload's named metrics with
    median, quartiles and sample count, and the correctness checks."""
    w = record["workload"]
    h = record["host"]
    lines = [
        f"# enginebench {w} seed={record['seed']} seconds={record['seconds']}"
        f" trace={int(record['traced'])} scale={record['scale']}",
        f"# host nproc={h['nproc']} mem_total_kb={h['mem_total_kb']} "
        f"master={h['master']} spark={h['spark']} scala={h['scala']} "
        f"jvm={h['jvm']} heap_mb={h['max_heap_mb']} "
        f"git={record['git_commit']} sources={record['source_stamp'][:12]}",
        "# sizes " + " ".join(f"{k}={v}" for k, v in record["sizes"].items()),
    ]
    d = [secs(s) for s in ops(record, MERGE)]
    named = [("setup_s", f"{end_to_end(record)['setup_s']:.4g} s"),
             ("failed_frac", f"{record['failed']}/{record['attempted']}"),
             ("peak_rss_mb", f"{record['peak_rss_mb']:.4g} MB")]
    if w == "backfill":
        ev = sum(s["attrs"].get("events", 0) for s in ops(record, MERGE))
        named.append(("backfill_eps", f"{ev / sum(d):.6g} events/s "
                      f"over {len(d)} backfills" if d else "n/a"))
    if w == "trickle":
        named += [("commit_p50_s", summary(d, "s")),
                  ("commit_tail_s", tail(d, "s")),
                  ("mirror_lag_p50_s",
                   summary([secs(s) for s in ops(record, MIRROR)], "s"))]
    if w == "serve":
        lk = [secs(s) for s in ops(record, LOOKUP)]
        named += [("lookup_p50_ms", summary(lk, "ms", 1000)),
                  ("lookup_tail_ms", tail(lk, "ms", 1000)),
                  ("feed_p50_s",
                   summary([secs(s) for s in ops(record, FEED)], "s")),
                  ("scan_s",
                   summary([secs(s) for s in ops(record, SCAN)], "s"))]
    named.append(("space_amp",
                  f"{record['results'].get('space_amp', 0.0):.4g}"))
    lines += [f"{k}: {v}" for k, v in named]
    lines.append("# end_to_end " + json.dumps(end_to_end(record)))
    lines.append("# results " + " ".join(
        f"{k}={v:.6g}" for k, v in record["results"].items()))
    for k, c in record["checks"].items():
        lines.append(f"# check {k}: {c['pass']} passed, {c['fail']} failed")
    lines += [f"# FAILURE {f}" for f in record["failures"]]
    return lines
