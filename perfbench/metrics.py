"""Pure measurement logic of the benchmark: the tail percentile, the driver-gap
computation, per-file stream-latency attribution and the canonical
result hash. Kept free of I/O so the unit tests can pin every rule."""
import hashlib
import math
import struct
from datetime import date, datetime, timezone


TAIL_BEYOND = 10     # samples the tail percentile leaves beyond it
TAIL_FLOOR_PCT = 80.0


def tail(values):
    """The highest percentile that still has at least ``TAIL_BEYOND``
    samples above it: the order statistic with exactly that many samples
    beyond it. With fewer than 50 samples that percentile would fall
    below ``TAIL_FLOOR_PCT``, so the number of samples beyond shrinks to
    keep the percentile at the floor or above (at least one sample
    beyond, as long as there are two samples).
    Returns ``(value, percentile, n)``."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    k_beyond = min(TAIL_BEYOND, int(n * (100.0 - TAIL_FLOOR_PCT) / 100.0))
    k_beyond = max(k_beyond, 1 if n >= 2 else 0)
    k = n - k_beyond        # 1-based rank of the tail order statistic
    return s[k - 1], 100.0 * k / n, n


def union_length(intervals):
    """Total length covered by a set of half-open ``(start, end)``
    intervals; overlaps count once."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(wall_start, wall_end, job_intervals):
    """Wall time of one operation that no Spark job covers: the wall
    interval minus the union of the job intervals clipped to it."""
    clipped = [(max(s, wall_start), min(e, wall_end)) for s, e in job_intervals]
    return (wall_end - wall_start) - union_length(clipped)


def stream_latencies(landed, batches, readers):
    """Per-input-file latency of a chain of streaming queries.

    ``landed``: ``{file: land_time}`` for the files the generator wrote.
    ``batches``: ``{query: [(batch_id, commit_time, consumed, produced)]}``
    where ``consumed``/``produced`` are the file paths the micro-batch
    read from its source log and wrote to its sink log.
    ``readers``: ``{query: [directory prefix it reads]}``.

    A file's latency runs from its landing to the commit of the last
    micro-batch, over every query of the chain, that consumed the file
    or a file derived from it. Returns ``(latency_by_file, missing)``:
    ``missing`` lists ``(file, query)`` pairs where a query that reads
    the file's directory never consumed it (or a file derived from it).
    """
    consumers = {}                        # file -> [(query, commit, produced)]
    for q, bs in batches.items():
        for _, commit, consumed, produced in bs:
            for f in consumed:
                consumers.setdefault(f, []).append((q, commit, produced))

    def reads(q, f):
        return any(f.startswith(p) for p in readers.get(q, ()))

    lat, missing = {}, []
    for f0, t0 in landed.items():
        last = None
        stack, seen = [f0], set()
        while stack:
            f = stack.pop()
            if f in seen:
                continue
            seen.add(f)
            took = {q for q, _, _ in consumers.get(f, ())}
            missing.extend((f0, q) for q in readers if reads(q, f) and q not in took)
            for q, commit, produced in consumers.get(f, ()):
                last = commit if last is None else max(last, commit)
                stack.extend(produced)
        if last is not None:
            lat[f0] = last - t0
    return lat, sorted(set(missing))


# --------------------------------------------------------------------------
# per-layer metric names (the traced run reports every one of them)
# --------------------------------------------------------------------------

LAYER_KEYS = [
    "tables.scan_ms", "tables.scan_bytes", "tables.files_read", "operators.build_ms",
    "functions.graft_exprs", "functions.interpreted_exprs", "functions.hof_lambdas",
    "spark.plan.analysis_ms", "spark.plan.optimization_ms", "spark.plan.planning_ms",
    "spark.plan.codegen_compiles", "spark.driver.gap_ms", "spark.driver.jobs",
    "spark.driver.stages", "spark.driver.aqe_replans", "spark.driver.broadcast_build_ms",
    "spark.driver.collect_ms", "spark.exec.run_ms", "spark.exec.cpu_ms", "spark.exec.gc_ms",
    "spark.exec.tasks", "spark.exec.failed_tasks", "spark.shuffle.write_bytes",
    "spark.shuffle.read_bytes", "spark.shuffle.fetch_wait_ms", "spark.shuffle.spill_bytes",
    "spark.shuffle.skew",
]
STREAM_LAYERS = ["dwd", "dwm", "dws"]
STREAM_KEYS = (
    [f"streaming.{l}.{m}" for l in STREAM_LAYERS for m in (
        "batch_ms", "add_batch_ms", "query_planning_ms", "wal_commit_ms",
        "latest_offset_ms", "input_rows", "processed_rps", "empty_batch_share")]
    + ["streaming.state_rows", "streaming.state_mem_bytes", "streaming.state_commit_ms",
       "streaming.watermark_lag_ms", "streaming.backlog_files", "streaming.sustained_eps",
       "sinks.add_batch_ms", "sinks.rows_written", "sinks.files_written",
       "sinks.bytes_written", "gen.lateness_ms", "gen.events"])
UNITS = {"_ms": "ms", "_bytes": "bytes", "_rps": "rows/s", "_eps": "events/s",
         "_share": "ratio", "skew": "ratio"}


def unit_of(name):
    if "bytes" in name:
        return "bytes"
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


# --------------------------------------------------------------------------
# canonical result hash (shared with the JVM side, see Canon.scala)
# --------------------------------------------------------------------------

_MASK = (1 << 64) - 1
_EPOCH = datetime(1970, 1, 1)


def _num(x):
    x = float(x)
    if math.isnan(x):
        return "nan"
    if x == 0.0:
        return "0"
    if x.is_integer() and abs(x) < 2 ** 53:
        return str(int(x))
    return "d" + struct.pack(">d", x).hex()


def canon_value(v):
    """Render one value so that equal values from Spark and DuckDB render
    identically: numbers compare as doubles (integral ones below 2^53 as
    integers, so 3, 3.0 and DECIMAL 3.00 agree), -0.0 equals 0.0, NaN
    equals NaN, timestamps are epoch microseconds."""
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v) if abs(v) >= 2 ** 53 else _num(v)
    if isinstance(v, (float,)) or type(v).__name__ == "Decimal":
        return _num(v)
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        d = v - _EPOCH
        return "t%d" % (d.days * 86_400_000_000 + d.seconds * 1_000_000 + d.microseconds)
    if isinstance(v, date):
        return "D" + v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(k + ":" + canon_value(v[k]) for k in sorted(v)) + "}"
    if isinstance(v, (bytes, bytearray)):
        return "b" + bytes(v).hex()
    raise TypeError(f"no canonical form for {type(v).__name__}")


def row_hash(values):
    line = "\u001f".join(canon_value(v) for v in values)
    return int.from_bytes(hashlib.sha256(line.encode("utf-8")).digest()[:8], "big")


def result_digest(columns, rows):
    """Order-independent digest of a result: columns are taken in name
    order and the per-row hashes are summed modulo 2^64, so the digest
    is a multiset hash that needs no row sort. Returns
    ``(row_count, hex digest)``."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    acc = 0
    n = 0
    for r in rows:
        acc = (acc + row_hash([r[i] for i in order])) & _MASK
        n += 1
    return n, "%016x" % acc
