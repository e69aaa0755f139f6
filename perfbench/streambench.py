"""The dw_stream workload: an open-loop, seeded file generator feeding the
ODS -> DWD -> DWM -> DWS -> serving chain that the JVM harness runs
(perfbench/scala/StreamRun.scala).

Phases, after set-up (static tables, one warm-up file per kind, chain
started and drained):

1. backlog drain: a pre-staged backlog lands at once; the drain rate is
   its event count over the time until the last chain query committed
   the last micro-batch that consumed it or rows derived from it;
2. nominal: for ``--seconds``, files land on a fixed schedule at a fixed
   rate; per-file latency is measured here.

Every file's content and event time come from the seed and the schedule
(event time = schedule offset x SPEEDUP after a fixed origin), so the
same seed gives byte-identical files whatever the wall clock does; the
generator's lateness against its schedule is recorded separately.
"""
import json
import os
import statistics
import time
import urllib.parse

import gen
import metrics

SPEEDUP = 600                          # event-time seconds per schedule second
ORIGIN_US = 19783 * gen.DAY_US         # 2024-03-01 00:00 UTC
# The chain's per-file latency has a floor of about two micro-batch
# cycles of its eight concurrent queries, whatever the rate: on a 4-core
# host the tail was 10-11 s at 100 and at 500 events/s (one landing per
# second). A limit of one reference window (10 s) would sit on that floor
# and flip on noise; two windows leave room, so the verdict flips only
# when the chain gets markedly slower.
LATENCY_LIMIT_MS = 20_000
PERIOD_S = 1.0                         # one file per kind every PERIOD_S
NOMINAL_EPS = 500                      # events/s at the nominal rate (about
                                       # a third of the measured drain rate)
BACKLOG_FILES = 3                      # per kind
BACKLOG_ROWS = 4000                    # events per backlog event file
KIND_SHARE = {"events": 1.0, "orders": 0.1, "lineitem": 0.3}

# query -> (layer, directories it reads); the DWD output feeds DWM and DWS
READERS = {
    "dwd": ("dwd", ["ods/events/"]),
    "dwm_uv": ("dwm", ["out/dwd/"]),
    "dwm_jump": ("dwm", ["out/dwd/"]),
    "serving_wide": ("dwm", ["out/dwd/"]),
    "dws_visitor": ("dws", ["out/dwd/"]),
    "dws_product": ("dws", ["ods/lineitem/"]),
    "dws_province": ("dws", ["ods/orders/"]),
    "dim_enrich": ("sinks", ["ods/orders/"]),
}
SINK_QUERIES = ("dwd", "serving_wide", "dws_visitor", "dws_product", "dws_province",
                "dim_enrich")
FILE_SINKS = {"dwd": "out/dwd", "dwm_uv": "out/dwm_uv", "dwm_jump": "out/dwm_jump",
              "serving_wide": "out/serving_wide"}


def schedule(seconds):
    """The deterministic landing plan: ``[(phase, offset_s, kind, rows)]``
    with offsets relative to the start of the timed region (the backlog
    sits at offset 0)."""
    plan = []
    for kind, share in KIND_SHARE.items():
        for _ in range(BACKLOG_FILES):
            plan.append(("backlog", 0.0, kind, max(1, int(BACKLOG_ROWS * share))))
    for i in range(int(round(seconds / PERIOD_S))):
        for kind, share in KIND_SHARE.items():
            rows = max(1, int(NOMINAL_EPS * PERIOD_S * share))
            plan.append(("nominal", 1.0 + i * PERIOD_S, kind, rows))
    return plan


def file_name(idx, kind):
    return f"{kind}-{idx:05d}.json"


def make_files(seed, seconds):
    """All input files of a run: warm-up files first, then the plan."""
    sp = gen.StreamPlan(seed)
    files = []
    for kind in KIND_SHARE:
        files.append({"phase": "warmup", "offset": -1.0, "kind": kind, "rows": 50})
    for phase, off, kind, rows in schedule(seconds):
        files.append({"phase": phase, "offset": off, "kind": kind, "rows": rows})
    for idx, f in enumerate(files):
        f["idx"] = idx
        f["name"] = file_name(idx, f["kind"])
        f["body"] = sp.body(f["kind"], idx, f["rows"],
                            ORIGIN_US + int((f["offset"] + 1.0) * SPEEDUP * 1e6))
    return files


# --------------------------------------------------------------------------
# expected outputs (DuckDB over every generated file)
# --------------------------------------------------------------------------

EVENT_COLS = ("{'event_id': 'BIGINT', 'ts': 'TIMESTAMP', 'user_id': 'BIGINT', "
              "'event_type': 'VARCHAR', 'value': 'DOUBLE', 'props': 'VARCHAR'}")
ORDER_COLS = ("{'o_orderkey': 'BIGINT', 'o_custkey': 'BIGINT', 'rev': 'DOUBLE', "
              "'ts': 'TIMESTAMP'}")
LINE_COLS = ("{'l_orderkey': 'BIGINT', 'l_partkey': 'BIGINT', 'l_quantity': 'DOUBLE', "
             "'l_extendedprice': 'DOUBLE', 'ts': 'TIMESTAMP'}")
HOUR_US = 3_600_000_000
DAYS90_US = 90 * gen.DAY_US

CHECKS = {
    # name -> (expected SQL over the generated files, actual SQL over the output)
    "dws_visitor": (
        f"""SELECT epoch_us(ts) // {HOUR_US} * {HOUR_US} AS w, event_type,
                   count(*) AS pv, count(DISTINCT user_id) AS uv,
                   round(sum(value), 2) AS value_sum
            FROM ev WHERE route = 'page' GROUP BY ALL""",
        """SELECT epoch_us(window_start) AS w, event_type, pv, uv_approx AS uv,
                  round(value_sum, 2) AS value_sum FROM {src}"""),
    "dws_product": (
        f"""SELECT epoch_us(l.ts) // {DAYS90_US} * {DAYS90_US} AS w, l_partkey, p_brand,
                   count(*) AS item_ct,
                   sum(CAST(l_quantity AS DECIMAL(12,2))) AS quantity_sum,
                   sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS amount_sum
            FROM li l JOIN part p ON l_partkey = p_partkey GROUP BY ALL""",
        """SELECT epoch_us(window_start) AS w, l_partkey, p_brand, item_ct,
                  quantity_sum, amount_sum FROM {src}"""),
    "dws_province": (
        f"""SELECT epoch_us(o.ts) // {DAYS90_US} * {DAYS90_US} AS w, n_name,
                   count(*) AS order_ct, sum(CAST(rev AS DECIMAL(12,2))) AS amount
            FROM od o JOIN customer c ON o_custkey = c_custkey
                      JOIN nation n ON c_nationkey = n_nationkey GROUP BY ALL""",
        """SELECT epoch_us(window_start) AS w, n_name, order_ct, amount FROM {src}"""),
    "serving_wide": (
        """SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
                  epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
           FROM ev v JOIN ev p ON v.user_id = p.user_id
            AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 10 MINUTE
           WHERE v.route = 'page' AND p.route = 'page'
             AND v.event_type = 'view' AND p.event_type = 'purchase'""",
        """SELECT view_id, purchase_id, user_id, gap_us FROM {src}"""),
    "dim_enrich": (
        """SELECT o_orderkey, o_custkey, c_name, c_nationkey, c_mktsegment
           FROM od LEFT JOIN customer ON o_custkey = c_custkey""",
        """SELECT o_orderkey, o_custkey, c_name, c_nationkey, c_mktsegment FROM {src}"""),
}


def _views(con, root, data):
    con.execute(f"""CREATE OR REPLACE VIEW ev AS SELECT *,
        CASE WHEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NULL
               OR user_id IS NULL OR event_type = 'error' THEN 'dirty'
             WHEN event_type = 'signup' THEN 'start' ELSE 'page' END AS route
        FROM read_json('{root}/events/*.json', columns={EVENT_COLS},
                       format='newline_delimited')""")
    con.execute(f"""CREATE OR REPLACE VIEW od AS SELECT * FROM read_json(
        '{root}/orders/*.json', columns={ORDER_COLS}, format='newline_delimited')""")
    con.execute(f"""CREATE OR REPLACE VIEW li AS SELECT * FROM read_json(
        '{root}/lineitem/*.json', columns={LINE_COLS}, format='newline_delimited')""")
    for t in ("customer", "nation", "part"):
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")


def expected(work, data, files):
    """Rows of every checked output, computed from the generated files."""
    import duckdb
    root = os.path.join(work, "expected_in")
    for f in files:
        d = os.path.join(root, f["kind"])
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f["name"]), "wb") as fh:
            fh.write(f["body"])
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    _views(con, root, data)
    out = {name: con.execute(sql).fetchall() for name, (sql, _) in CHECKS.items()}
    out["_events"] = con.execute("SELECT count(*) FROM ev").fetchone()[0]
    con.close()
    return out


def _hll_ok(approx, exact):
    """The HLL band the engine documents for approx_count_distinct at its
    default 5 % rsd (Stats.qProvinceStatsApprox): |est - exact| <=
    max(16, 15 % of exact)."""
    return abs(approx - exact) <= max(16.0, 0.15 * exact)


def check_outputs(work, want, sink_files):
    import duckdb
    con = duckdb.connect()
    errors = []
    for name, (_, actual_sql) in CHECKS.items():
        if name in FILE_SINKS:
            paths = [p for p in sink_files.get(name, []) if p.endswith(".parquet")]
        else:
            base = os.path.join(work, "out", name)
            paths = []
            for d, _, fs in os.walk(base):
                paths += [os.path.join(d, f) for f in fs if f.endswith(".parquet")]
        if not paths:
            errors.append(f"{name}: no output files")
            continue
        src = "read_parquet([" + ",".join(f"'{p}'" for p in sorted(paths)) + "])"
        got = con.execute(actual_sql.format(src=src)).fetchall()
        exp = want[name]
        if name == "dws_visitor":
            key = lambda r: (r[0], r[1])
            g, e = {key(r): r for r in got}, {key(r): r for r in exp}
            bad = [k for k in e if k not in g or g[k][2] != e[k][2] or g[k][4] != e[k][4]
                   or not _hll_ok(g[k][3], e[k][3])]
            if bad or len(g) != len(e):
                errors.append(f"{name}: {len(bad)} wrong groups of {len(e)} "
                              f"(got {len(g)} groups)")
            continue
        if metrics.result_digest(range(len(got[0]) if got else 0), got) != \
                metrics.result_digest(range(len(exp[0]) if exp else 0), exp):
            errors.append(f"{name}: {len(got)} rows differ from the expected {len(exp)}")
    con.close()
    return errors


# --------------------------------------------------------------------------
# checkpoint and sink logs
# --------------------------------------------------------------------------

def _log_entries(path):
    out = []
    with open(path) as f:
        for line in f.read().splitlines()[1:]:
            if line.strip():
                out.append(json.loads(line))
    return out


def _local(uri):
    return os.path.normpath(urllib.parse.unquote(urllib.parse.urlparse(uri).path))


def _batch_files(d):
    if not os.path.isdir(d):
        return {}
    return {int(n): os.path.join(d, n) for n in os.listdir(d) if n.isdigit()}


def read_logs(work):
    """``{query: [(batch, commit_s, consumed, produced)]}`` and the data
    files of every file sink."""
    batches, sink_files = {}, {}
    for q in READERS:
        ck = os.path.join(work, "ck", q)
        commits = _batch_files(os.path.join(ck, "commits"))
        sources = {}
        src_root = os.path.join(ck, "sources")
        for s in (os.listdir(src_root) if os.path.isdir(src_root) else []):
            for b, p in _batch_files(os.path.join(src_root, s)).items():
                sources.setdefault(b, []).extend(_local(e["path"]) for e in _log_entries(p))
        produced = {}
        if q in FILE_SINKS:
            meta = _batch_files(os.path.join(work, FILE_SINKS[q], "_spark_metadata"))
            for b, p in meta.items():
                produced[b] = [_local(e["path"]) for e in _log_entries(p)]
            sink_files[q] = sorted(f for fs in produced.values() for f in fs)
        batches[q] = [(b, os.stat(p).st_mtime, sources.get(b, []), produced.get(b, []))
                      for b, p in sorted(commits.items())]
    return batches, sink_files


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------

def run(args, work, t_start, Jvm, limit_s):
    deadline = t_start + limit_s
    data = os.path.join(work, "data")
    gen.write_tables(data, args.seed, only=())
    files = make_files(args.seed, args.seconds)
    ods = os.path.join(work, "ods")
    staging = os.path.join(work, "staging")
    for kind in KIND_SHARE:
        os.makedirs(os.path.join(ods, kind), exist_ok=True)
    os.makedirs(staging, exist_ok=True)

    def land(group):
        """Write a group of same-kind files into a staging directory, then
        rename the directory into the source: the files appear at once."""
        kind, name = group[0]["kind"], f"{group[0]['phase']}-{group[0]['idx']:05d}"
        tmp = os.path.join(staging, name)
        os.makedirs(tmp)
        for f in group:
            with open(os.path.join(tmp, f["name"]), "wb") as fh:
                fh.write(f["body"])
        dst = os.path.join(ods, kind, name)
        os.rename(tmp, dst)
        landed = time.time()
        for f in group:
            f["landed"] = landed
            f["path"] = os.path.join(dst, f["name"])

    def groups(phase):
        by = {}
        for f in files:
            if f["phase"] == phase:
                by.setdefault((f["offset"], f["kind"]), []).append(f)
        return [by[k] for k in sorted(by, key=lambda k: (k[0], list(KIND_SHARE).index(k[1])))]

    for g in groups("warmup"):
        land(g)
    jvm = Jvm(work, {"workload": "dw_stream", "work": work, "ods": ods, "data": data,
                     "out": os.path.join(work, "result.json"), "trace": args.trace},
              deadline)
    try:
        jvm.expect("ORACLE", deadline)
        want = expected(work, data, files)
        jvm.expect("READY", deadline)
        setup_s = time.time() - t_start

        # 1. backlog: all backlog files of a kind land at once
        for g in groups("backlog"):
            land(g)
        jvm.send("DRAIN")
        jvm.expect("IDLE", deadline)
        # 2. the nominal phase on the wall-clock schedule; a file's latency
        # counts from when it was due, so generator stalls are not hidden
        t0 = time.time()
        for g in groups("nominal"):
            due = t0 + g[0]["offset"] - 1.0
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            land(g)
            for f in g:
                f["due"] = due
            g[0]["late_ms"] = max(0.0, (g[0]["landed"] - due) * 1000.0)
        jvm.send("STOP")
        jvm.expect("DONE", deadline)
    finally:
        jvm.close()
    res = json.load(open(os.path.join(work, "result.json")))
    batches, sink_files = read_logs(work)
    return report(args, work, res, files, want, batches, sink_files, setup_s)


def backlog_max(files, batches):
    """Most event files landed but not yet consumed by the DWD query at
    any landing instant of the nominal phase."""
    taken = {}
    for _, commit, consumed, _ in batches.get("dwd", []):
        for p in consumed:
            taken[p] = commit
    ev = [f for f in files if f["kind"] == "events" and f["phase"] == "nominal"]
    worst = 0
    for f in ev:
        t = f["landed"]
        worst = max(worst, sum(1 for g in ev if g["landed"] <= t
                               and taken.get(g["path"], float("inf")) > t))
    return worst


def report(args, work, res, files, want, batches, sink_files, setup_s):
    readers = {q: [os.path.join(work, d) for d in dirs] for q, (_, dirs) in READERS.items()}
    landed = {f["path"]: f.get("due", f["landed"]) for f in files}
    lat_s, missing = metrics.stream_latencies(landed, batches, readers)
    errors = [f"{os.path.basename(f)} never reached {q}" for f, q in missing]
    errors += [f"query {q} failed: {e}" for q, e in res.get("errors", {}).items()]
    errors += check_outputs(work, want, sink_files)
    lat = {f["path"]: lat_s[f["path"]] * 1000.0 for f in files if f["path"] in lat_s}

    def phase_lat(ph):
        return [lat[f["path"]] for f in files if f["phase"] == ph and f["path"] in lat]

    backlog = [f for f in files if f["phase"] == "backlog"]
    drain_ms = max(phase_lat("backlog") or [float("nan")])
    backlog_events = sum(f["rows"] for f in backlog if f["kind"] == "events")
    drain_eps = backlog_events / (drain_ms / 1000.0)
    nominal = phase_lat("nominal")
    p50 = statistics.median(nominal)
    tail, tail_pct, n = metrics.tail(nominal)

    # the one fixed rate the run budget allows is sustained when its tail
    # meets the latency limit and the files of its last third did not wait
    # clearly longer (1.5x + 0.5 s) than those of its first third, i.e. the
    # backlog did not grow
    third = max(1, len(nominal) // 3)
    growing = (statistics.median(nominal[-third:])
               > 1.5 * statistics.median(nominal[:third]) + 500)
    sustained = float(NOMINAL_EPS) if tail <= LATENCY_LIMIT_MS and not growing else 0.0
    attempted = len(files) + len(CHECKS)
    failed = len(errors) - len(missing) + len({f for f, _ in missing})
    rss = res["peak_rss_kb"] / 1024.0
    late = [f.get("late_ms", 0.0) for f in files if "late_ms" in f]
    human = [
        ("setup_s", setup_s, "s"),
        ("stream_drain_eps", drain_eps, "events/s"),
        ("stream_latency_p50_ms", p50, "ms"),
        (f"stream_latency_tail_ms (p{tail_pct:.1f}, n={n})", tail, "ms"),
        ("stream_sustained_eps", sustained, "events/s"),
        ("error_rate", failed / attempted, "ratio"),
        ("peak_rss_mb", rss, "MB"),
    ]
    e2e = {
        "setup_s": (setup_s, "s"),
        "throughput_per_min": (drain_eps * 60.0, "1/min"),
        "latency_p50_ms": (p50, "ms"),
        "latency_tail_ms": (tail, "ms"),
        "peak_rss_mb": (rss, "MB"),
    }
    layers = None
    if args.trace:
        layers = stream_layers(res, files, batches, sink_files, work)
        layers["streaming.sustained_eps"] = sustained
        layers["gen.lateness_ms"] = statistics.median(late) if late else 0.0
        layers["gen.events"] = float(want["_events"])
        layers["streaming.backlog_files"] = float(backlog_max(files, batches))
    spans, self_ms = [], {}
    for p in res.get("progress", []):
        start = _iso_ms(p["timestamp"])
        dur = p["duration_ms"].get("triggerExecution", 0)
        spans.append({"id": f"{p['query']}/{p['batch']}", "name": f"{p['query']} batch",
                      "start": start, "end": start + dur, "parent": None})
        layer = READERS.get(p["query"], ("?",))[0]
        self_ms[f"streaming.{layer}"] = self_ms.get(f"streaming.{layer}", 0.0) + dur
    return dict(human=human, e2e=e2e, layers=layers, errors=errors,
                attempted=attempted, failed=failed, result=res,
                extra={"spans": spans, "self_ms": self_ms})


def stream_layers(res, files, batches, sink_files, work):
    out = {k: 0.0 for k in metrics.LAYER_KEYS + metrics.STREAM_KEYS}
    lay = res.get("layers", {})
    for k, v in lay.items():
        if k in out:
            out[k] = v
    out["operators.build_ms"] = sum(v for k, v in lay.items() if k.startswith("build."))
    jobs = [tuple(j) for j in res.get("jobs", [])]
    out["spark.driver.gap_ms"] = metrics.driver_gap(res["ready_ms"], res["drained_ms"], jobs)
    prog = res.get("progress", [])
    by_layer = {}
    for p in prog:
        layer = READERS.get(p["query"], ("?",))[0]
        by_layer.setdefault(layer, []).append(p)
    keys = {"batch_ms": "triggerExecution", "add_batch_ms": "addBatch",
            "query_planning_ms": "queryPlanning", "wal_commit_ms": "walCommit",
            "latest_offset_ms": "latestOffset"}
    for layer in ("dwd", "dwm", "dws"):
        ps = by_layer.get(layer, [])
        full = [p for p in ps if p["rows"] > 0]
        for name, k in keys.items():
            vals = [p["duration_ms"].get(k, 0) for p in full]
            out[f"streaming.{layer}.{name}"] = sum(vals) / len(vals) if vals else 0.0
        out[f"streaming.{layer}.input_rows"] = float(sum(p["rows"] for p in ps))
        rps = [p["processed_rps"] for p in full]
        out[f"streaming.{layer}.processed_rps"] = sum(rps) / len(rps) if rps else 0.0
        out[f"streaming.{layer}.empty_batch_share"] = \
            (len(ps) - len(full)) / len(ps) if ps else 0.0
    last = {}
    for p in prog:
        last[p["query"]] = p
    out["streaming.state_rows"] = float(sum(s["rows"] for p in last.values() for s in p["state"]))
    out["streaming.state_mem_bytes"] = float(
        sum(s["mem_bytes"] for p in last.values() for s in p["state"]))
    commits = [s["commit_ms"] for p in prog for s in p["state"]]
    out["streaming.state_commit_ms"] = sum(commits) / len(commits) if commits else 0.0
    lags = []
    for p in last.values():
        if p["watermark"] and p["max_event_time"]:
            lags.append(_iso_ms(p["max_event_time"]) - _iso_ms(p["watermark"]))
    out["streaming.watermark_lag_ms"] = max(lags) if lags else 0.0
    sinks = [p["duration_ms"].get("addBatch", 0) for p in prog
             if p["query"] in SINK_QUERIES and p["rows"] > 0]
    out["sinks.add_batch_ms"] = sum(sinks) / len(sinks) if sinks else 0.0
    data_files = [f for fs in sink_files.values() for f in fs]
    for q in ("dws_visitor", "dws_product", "dws_province", "dim_enrich"):
        for d, _, fs in os.walk(os.path.join(work, "out", q)):
            data_files += [os.path.join(d, f) for f in fs if f.endswith(".parquet")]
    out["sinks.files_written"] = float(len(data_files))
    out["sinks.bytes_written"] = float(sum(os.path.getsize(f) for f in data_files
                                           if os.path.exists(f)))
    import duckdb
    con = duckdb.connect()
    paths = [f for f in data_files if os.path.exists(f)]
    out["sinks.rows_written"] = float(con.execute(
        "SELECT count(*) FROM read_parquet([" + ",".join(f"'{p}'" for p in paths) + "],"
        " union_by_name=true)").fetchone()[0]) if paths else 0.0
    con.close()
    return out


def _iso_ms(s):
    from datetime import datetime
    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp() * 1000.0
