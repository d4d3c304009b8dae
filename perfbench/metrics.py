"""The benchmark's arithmetic: from one run record to its metrics.

Kept free of I/O so `perfbench/test_metrics.py` can pin every rule.
"""
import statistics

ACCOUNTS = ("ACCT_PUB", "ACCT_NYCHA", "ACCT_JCHA")
PACKS = ("RelationalQueries", "VariantQueries", "GovernanceQueries",
         "PipelineQueries", "DedupQueries", "SimilarityQueries",
         "TextQueries", "MultimodalQueries", "EventQueries",
         "SamplingQueries", "RetrievalQueries", "CorpusPipelineQueries")
# the session stores the query_mix entries fill
CACHES = ("byte_merges", "ivfpq_books", "kmeans_cents", "neardup_pairs")

END_TO_END = {
    "setup_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms",
    "throughput_per_s": "1/s", "stored_bytes_ratio": "ratio"}


def per_layer_units():
    """Every per-layer metric name with its unit, in a fixed order."""
    units = {
        "producer.unload_s": "s", "producer.files": "count",
        "producer.bytes": "bytes",
        "pipe.trigger_s": "s", "pipe.jobs_per_trigger": "count",
        "pipe.tasks_per_trigger": "count",
        "pipe.files_written_per_trigger": "count",
        "pipe.output_bytes_per_trigger": "bytes",
        "pipe.shuffle_bytes_per_trigger": "bytes",
        "pipe.gc_s_per_trigger": "s",
        "pipe.backfill.trigger_s": "s",
        "pipe.backfill.tasks_per_trigger": "count",
        "pipe.backfill.files_written_per_trigger": "count",
        "pipe.backfill.output_bytes_per_trigger": "bytes",
        "pipe.rows.push_trips": "count", "pipe.rows.push_stations": "count",
        "pipe.rows.push_programs": "count", "pipe.rows.purge_files": "count",
        "pipe.pending_files": "count", "stage.purged_ratio": "ratio",
        "serve.register_s": "s",
    }
    for a in ACCOUNTS:
        units[f"serve.report_ms.{a}"] = "ms"
    units.update({
        "serve.dashboard_ms": "ms", "serve.tasks_per_report": "count",
        "serve.files_read_per_report": "count",
        "serve.bytes_read_per_report": "bytes"})
    for p in PACKS:
        units.update({f"queries.{p}.s": "s", f"queries.{p}.jobs": "count",
                      f"queries.{p}.shuffle_bytes": "bytes",
                      f"queries.{p}.spill_bytes": "bytes"})
    units["cache.fill_s"] = "s"
    for c in CACHES:
        units[f"cache.{c}.fill_s"] = "s"
    units.update({
        "spark.jobs": "count", "spark.tasks": "count", "spark.gc_s": "s",
        "spark.peak_heap_mb": "MB", "bench.op_self_ms": "ms",
        "trace.overhead_pct": "%"})
    return units


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def tail(samples):
    """The highest percentile with at least ten samples beyond it.

    Returns (value, percentile, n). The sample of rank k (1-based, in
    ascending order) has n - k samples above it, so the rule picks rank
    n - 10, the percentile 100 (n - 10) / n. With twenty samples or fewer
    that rank is at or below the median, so the maximum stands in
    (percentile 100).
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 20:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def failed_frac(attempted, failed):
    return failed / attempted if attempted else 1.0


def self_times(spans):
    """span id -> its duration minus the durations of its direct children."""
    dur = {s["id"]: s["t1_ms"] - s["t0_ms"] for s in spans}
    own = dict(dur)
    for s in spans:
        if s["parent"] in own:
            own[s["parent"]] -= dur[s["id"]]
    return own


def select_entries(times, packs):
    """The query_mix selection rule over a bench record.

    `times` maps entry -> seconds, `packs` maps pack -> entry names. Per
    pack, entries are ranked by time; the rule takes the median (the
    lower one for an even count) and the slowest. Returns
    {pack: (median, slowest)}.
    """
    out = {}
    for pack, names in packs.items():
        ranked = sorted((n for n in names if n in times), key=lambda n: (times[n], n))
        if ranked:
            out[pack] = (ranked[(len(ranked) - 1) // 2], ranked[-1])
    return out


def _c(span, key):
    return span["counters"].get(key, 0.0)


def _spans(rec, name=None, phase=None, parent_name=None):
    by_id = {s["id"]: s for s in rec["spans"]}
    out = []
    for s in rec["spans"]:
        if name is not None and s["name"] != name:
            continue
        if phase is not None and s["phase"] != phase:
            continue
        if parent_name is not None and by_id.get(s["parent"], {}).get("name") != parent_name:
            continue
        out.append(s)
    return out


def _dur(s):
    return s["t1_ms"] - s["t0_ms"]


def outcome(rec, oracle_failures=()):
    """(attempted, failed) over timed ops and whole-run checks.

    An op is a pulse, a serving query or an entry; it fails when it threw
    or its output check failed. An entry whose output the oracle rejects
    fails on every timed run of it. Each whole-run check counts as one op.
    """
    bad = set(oracle_failures)
    ops = rec["ops"]
    failed = sum(1 for o in ops if not o["ok"] or
                 (o["kind"] == "entry" and o["detail"] in bad))
    checks = rec["checks"]
    failed += sum(1 for c in checks if not c["ok"])
    return len(ops) + len(checks), failed


def oracle_rejections(report, entries):
    """Entries the oracle checker's report rejects: a FAIL line, an entry
    without oracle SQL that returned no rows, or no line at all (the
    checker stopped before it). Returns {entry: reason}."""
    lines = {}
    for line in report.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[0] in entries:
            lines[parts[0]] = parts
    last = report.strip().splitlines()[-1] if report.strip() else "no output"
    bad = {}
    for name in entries:
        parts = lines.get(name)
        if parts is None:
            bad[name] = f"not checked: {last}"
        elif parts[1] == "FAIL" or parts[1:] == ["NO-ORACLE", "rows=0"]:
            bad[name] = " ".join(parts[1:])
    return bad


def end_to_end(rec):
    """The end-to-end metrics of an untraced run, plus record extras."""
    w = rec["workload"]
    extra = {}
    if w == "backfill_trickle":
        lat = [o["ms"] for o in rec["ops"] if o["kind"] == "pulse" and o["ok"]]
        thr = rec["backfill_rows"] / rec["backfill_s"]
        stored = rec["stored_bytes"] / rec["landed_bytes"]
        extra.update(freshness_p50_s=median(lat) / 1e3,
                     ingest_rows_per_s=thr,
                     pulse_ms=lat, warm_pulse_ms=rec.get("warm_pulse_ms", []),
                     dashboard_ms=[o["ms"] for o in rec["ops"] if o["kind"] == "dashboard"])
    else:
        # a query_mix op for latency is one pass over the entries
        passes = rec["pass_s"]
        lat = [p * 1e3 for p in passes]
        n_entries = len(rec["pack_of"])
        thr = n_entries * len(passes) / sum(passes)
        stored = rec["stored_bytes"] / rec["input_bytes"]
        extra.update(mix_s=median(passes), pass_s=passes,
                     store_parts=rec["store_parts"])
    value, pct, n = tail(lat)
    extra.update(tail_percentile=pct, tail_n=n)
    metrics = {"setup_s": median(rec["setup_s"]), "op_p50_ms": median(lat),
               "op_tail_ms": value, "throughput_per_s": thr,
               "stored_bytes_ratio": stored}
    return metrics, extra


def per_layer(rec):
    """Every per-layer metric of a traced run; 0 where the workload does
    not exercise the layer."""
    m = {k: 0.0 for k in per_layer_units()}
    run = [s for s in rec["spans"] if s["phase"] == "run"]

    prod = rec.get("producer")
    if prod:
        m["producer.unload_s"] = prod["s"]
        m["producer.files"] = prod["files"]
        m["producer.bytes"] = prod["bytes"]

    def per_trigger(parent):
        return _spans(rec, name="pipe.trigger", phase="run", parent_name=parent)

    trig = per_trigger("bench.pulse")
    if trig:
        m["pipe.trigger_s"] = median(_dur(s) for s in trig) / 1e3
        for key, c in (("jobs_per_trigger", "jobs"), ("tasks_per_trigger", "tasks"),
                       ("files_written_per_trigger", "files_written"),
                       ("output_bytes_per_trigger", "output_bytes"),
                       ("shuffle_bytes_per_trigger", "shuffle_write_bytes")):
            m[f"pipe.{key}"] = median(_c(s, c) for s in trig)
        m["pipe.gc_s_per_trigger"] = median(s["gc_ms"] for s in trig) / 1e3
    back = per_trigger("bench.backfill")
    if back:
        m["pipe.backfill.trigger_s"] = median(_dur(s) for s in back) / 1e3
        for key, c in (("tasks_per_trigger", "tasks"),
                       ("files_written_per_trigger", "files_written"),
                       ("output_bytes_per_trigger", "output_bytes")):
            m[f"pipe.backfill.{key}"] = median(_c(s, c) for s in back)

    ops_tables = rec.get("ops_tables")
    if ops_tables:
        before, after = ops_tables["task_rows_before"], ops_tables["task_rows_after"]
        for t in ("push_trips", "push_stations", "push_programs", "purge_files"):
            m[f"pipe.rows.{t}"] = after.get(t, 0) - before.get(t, 0)
        m["pipe.pending_files"] = max(
            [_c(s, "pending_files") for s in _spans(rec, name="pipe.ops_read")] +
            [ops_tables["pending_files"]])
        loaded = ops_tables["files_loaded"]
        m["stage.purged_ratio"] = after.get("purge_files", 0) / loaded if loaded else 0.0

    reg = _spans(rec, name="serve.register")
    if reg:
        m["serve.register_s"] = median(_dur(s) for s in reg) / 1e3
    reports = [s for s in rec["spans"] if s["name"].startswith("serve.report.")
               and s["phase"] != "setup" and "tasks" in s["counters"]]
    for a in ACCOUNTS:
        mine = [s for s in reports if s["name"] == f"serve.report.{a}"]
        if mine:
            m[f"serve.report_ms.{a}"] = median(_dur(s) for s in mine)
    if reports:
        m["serve.tasks_per_report"] = median(_c(s, "tasks") for s in reports)
        m["serve.files_read_per_report"] = median(_c(s, "files_read") for s in reports)
        m["serve.bytes_read_per_report"] = median(_c(s, "input_bytes") for s in reports)
    dash = _spans(rec, name="serve.dashboard", phase="run")
    if dash:
        m["serve.dashboard_ms"] = median(_dur(s) for s in dash)

    pack_of = rec.get("pack_of", {})
    passes = [s for s in _spans(rec, name="bench.pass", phase="run")
              if any("jobs" in c["counters"] for c in rec["spans"] if c["parent"] == s["id"])]
    for p in set(pack_of.values()):
        per_pass = []
        for ps in passes:
            kids = [s for s in rec["spans"] if s["parent"] == ps["id"]
                    and pack_of.get(s["name"][len("queries."):]) == p]
            per_pass.append((sum(_dur(s) for s in kids) / 1e3,
                             sum(_c(s, "jobs") for s in kids),
                             sum(_c(s, "shuffle_write_bytes") for s in kids),
                             sum(_c(s, "spill_bytes") for s in kids)))
        if per_pass:
            for i, k in enumerate(("s", "jobs", "shuffle_bytes", "spill_bytes")):
                m[f"queries.{p}.{k}"] = median(x[i] for x in per_pass)

    fills = rec.get("fills", {})
    if fills:
        m["cache.fill_s"] = sum(fills.values())
        for key, v in fills.items():
            name = key.split("@")[0]
            if f"cache.{name}.fill_s" in m:
                m[f"cache.{name}.fill_s"] += v

    m["spark.jobs"] = sum(_c(s, "jobs") for s in run)
    m["spark.tasks"] = sum(_c(s, "tasks") for s in run)
    m["spark.gc_s"] = rec["jvm"]["gc_s"]
    m["spark.peak_heap_mb"] = rec["jvm"]["peak_heap_mb"]

    own = self_times(rec["spans"])
    tops = [s for s in run if s["parent"] == -1 and s["name"].startswith("bench.")]
    m["bench.op_self_ms"] = median(own[s["id"]] for s in tops)
    m["trace.overhead_pct"] = overhead_pct(rec)
    return m


def overhead_pct(rec):
    """Traced over untraced cost of the same work, minus one, in percent:
    the serving burst's report pairs, or query_mix's alternate passes
    (traced first, so the mean of the traced ones brackets the untraced)."""
    burst = rec.get("serving_burst")
    if burst:
        on = median(b["ms"] for b in burst if b["traced"])
        off = median(b["ms"] for b in burst if not b["traced"])
    else:
        passes = rec.get("pass_s", [])
        on, off = median(passes[0::2]), median(passes[1::2])
    return 100.0 * (on / off - 1.0) if on and off else 0.0
