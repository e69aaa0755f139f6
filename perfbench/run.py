#!/usr/bin/env python3
"""graft benchmark: one command per workload, every metric by name.

    python3 perfbench/run.py --workload olap_star --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md):
  olap_star     closed loop, one client, star-schema and warehouse-twin queries
  curation_ann  closed loop, one client, ANN / dedup / classifier / text queries
  dw_stream     open loop: a seeded generator feeds the ODS -> DWD -> DWM -> DWS
                -> serving chain of streaming queries

The command builds the harness (perfbench/build.sbt, output under
.bench_build/) when its sources changed, generates the inputs from the
seed, computes the expected results with DuckDB, runs the JVM harness
and checks every output. It prints one line per metric and, as its last
line, one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen          # noqa: E402
import hostprobe    # noqa: E402
import metrics      # noqa: E402
import streambench  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
HELD_OUT_SEED = 20261017
HEAP = "1536m"


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else the directory the
    repository's own build.sbt compiles against (its unmanagedBase)."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


# The query mixes. Each pass runs the whole mix once, in a seeded order.
OLAP_STAR = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q6_revenue_change", "q7_nation_volume", "q9_product_profit",
    "q_visitor_stats", "q_product_stats", "q_province_stats", "q_order_wide",
]
CURATION_ANN = [
    "q_ann_ivfpq_recall", "q_dedup_minhash_lsh", "q_classifier_holdout",
    "q_text_langid_ngram", "q_bpe_tokenize",
]
BATCH = {"olap_star": OLAP_STAR, "curation_ann": CURATION_ANN}
PASS_S = 10.0           # seconds budgeted per timed pass (a warm pass of either
                        # mix takes about 7 s on a 4-core host)
WORKLOADS = list(BATCH) + ["dw_stream"]
RUN_LIMIT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------------
# build
# --------------------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]
    for r in roots:
        for d, _, files in sorted(os.walk(r)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        raise SystemExit("perfbench: no engine sources under src/main/scala; "
                         "run from the root of a graft checkout")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return
    log("building the harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_JARS=spark_jars())
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.call(cmd + ["compile"], cwd=HERE, env=env, stdout=out,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        raise SystemExit(f"perfbench: build failed (see {BUILD}/build.log)")
    with open(stamp_file, "w") as f:
        f.write(stamp)


# --------------------------------------------------------------------------
# the JVM harness
# --------------------------------------------------------------------------

def java_cmd(props_path):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(os.path.dirname(props_path), "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no fixed heap size: the serial collector grows the heap from the
    # live data left after each collection, so peak RSS follows what the
    # engine holds (G1 sizes it from pause times, and its peak RSS varied
    # by a quarter between runs of one workload)
    cmd += [f"-Xmx{HEAP}", "-XX:+UseSerialGC", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false",
            "-cp", f"{CLASSES}:{spark_jars()}/*", "perfbench.Harness", props_path]
    return cmd


class Jvm:
    """The harness process, with a line protocol on stdin/stdout."""

    def __init__(self, work, props, deadline):
        self.work = work
        path = os.path.join(work, "harness.properties")
        with open(path, "w") as f:
            for k, v in props.items():
                f.write(f"{k}={v}\n")
        self.err = open(os.path.join(work, "harness.log"), "w")
        self.proc = subprocess.Popen(java_cmd(path), stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, stderr=self.err,
                                     text=True, bufsize=1)
        # a hung harness is killed at the deadline; expect() then sees EOF
        self.watchdog = threading.Timer(max(0.0, deadline - time.time()), self.proc.kill)
        self.watchdog.daemon = True
        self.watchdog.start()

    def expect(self, word, deadline):
        while True:
            if time.time() > deadline:
                raise RuntimeError(f"harness did not print {word} in time")
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError(f"harness exited before {word} "
                                   f"(see {os.path.join(self.work, 'harness.log')})")
            if line.strip() == word:
                return time.time()

    def send(self, word):
        self.proc.stdin.write(word + "\n")
        self.proc.stdin.flush()

    def close(self):
        self.watchdog.cancel()
        try:
            if self.proc.poll() is None:
                try:
                    self.proc.stdin.close()
                except OSError:
                    pass
                try:
                    self.proc.wait(timeout=20)
                except subprocess.TimeoutExpired:
                    self.proc.kill()
                    self.proc.wait()
        finally:
            self.err.close()


# --------------------------------------------------------------------------
# batch workloads
# --------------------------------------------------------------------------

def expected_batch(data_dir, oracle, names, out):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    for q in names:
        sql = oracle.get(q)
        if sql is None:
            out[q] = None
            continue
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        out[q] = metrics.result_digest(cols, cur.fetchall())
    con.close()


def run_batch(args, work, t_start):
    mix = BATCH[args.workload]
    data = os.path.join(work, "data")
    gen.write_tables(data, args.seed)
    passes = max(2, round(args.seconds / PASS_S))
    deadline = t_start + RUN_LIMIT_S
    jvm = Jvm(work, {"workload": args.workload, "data": data, "work": work,
                     "out": os.path.join(work, "result.json"),
                     "oracle": os.path.join(work, "oracle.json"),
                     "mix": ",".join(mix), "seed": args.seed, "passes": passes,
                     "trace": args.trace}, deadline)
    try:
        jvm.expect("ORACLE", deadline)
        oracle = json.load(open(os.path.join(work, "oracle.json")))
        expected = {}
        expected_batch(data, oracle, mix, expected)
        t_ready = jvm.expect("READY", deadline)
        setup_s = t_ready - t_start
        jvm.send("GO")
        jvm.expect("DONE", deadline)
    finally:
        jvm.close()
    res = json.load(open(os.path.join(work, "result.json")))
    return batch_report(args, res, expected, setup_s, passes)


def check_op(op, expected):
    if not op.get("ok"):
        return f"{op['q']}: {op.get('error', 'failed')}"
    want = expected.get(op["q"])
    if want is None:
        return f"{op['q']}: no oracle SQL"
    got = (op["rows"], op["digest"])
    if tuple(want) != got:
        return f"{op['q']}: rows/digest {got} != expected {tuple(want)}"
    return None


def batch_report(args, res, expected, setup_s, passes):
    ops = res["ops"]
    errors = [e for e in (check_op(o, expected) for o in ops) if e]
    lat = [o["total_ms"] for o in ops if o.get("ok")]
    ok = [o for o in ops if o.get("ok") and check_op(o, expected) is None]
    attempted = len(ops)
    failed = len(errors)
    p50 = statistics.median(lat) if lat else float("nan")
    tail, tail_pct, n = metrics.tail(lat) if lat else (float("nan"), 0.0, 0)
    qpm = 60000.0 * len(ok) / sum(lat) if lat else 0.0
    human = [
        ("setup_s", setup_s, "s"),
        ("batch_qpm", qpm, "1/min"),
        ("query_p50_ms", p50, "ms"),
        (f"query_tail_ms (p{tail_pct:.1f}, n={n})", tail, "ms"),
        ("error_rate", failed / attempted, "ratio"),
        ("peak_rss_mb", res["peak_rss_kb"] / 1024.0, "MB"),
    ]
    e2e = {
        "setup_s": (setup_s, "s"),
        "throughput_per_min": (qpm, "1/min"),
        "latency_p50_ms": (p50, "ms"),
        "latency_tail_ms": (tail, "ms"),
        "peak_rss_mb": (res["peak_rss_kb"] / 1024.0, "MB"),
    }
    layers = batch_layers(ops, passes) if args.trace else None
    return dict(human=human, e2e=e2e, layers=layers, errors=errors,
                attempted=attempted, failed=failed, result=res, extra={})


def batch_layers(ops, passes):
    """Per-layer totals per pass over the timed region (traced run)."""
    tot = {k: 0.0 for k in metrics.LAYER_KEYS + metrics.STREAM_KEYS}
    skews = []
    for o in ops:
        if not o.get("ok"):
            continue
        lay = o.get("layers", {})
        for k, v in lay.items():
            if k in tot and k != "spark.shuffle.skew":
                tot[k] += v
        if lay.get("spark.shuffle.skew", 0) > 0:
            skews.append(lay["spark.shuffle.skew"])
        jobs = [tuple(j) for j in o.get("jobs", [])]
        tot["spark.driver.gap_ms"] += metrics.driver_gap(o["start_ms"], o["end_ms"], jobs)
    out = {k: v / passes for k, v in tot.items()}
    out["spark.shuffle.skew"] = max(skews) if skews else 0.0
    return out


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    build()
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host = hostprobe.HostProbe()
    t_start = time.time()
    try:
        if args.workload == "dw_stream":
            rep = streambench.run(args, work, t_start, Jvm, RUN_LIMIT_S)
        else:
            rep = run_batch(args, work, t_start)
        state = host.finish()
        if args.trace:
            path = os.path.join(BUILD, "traces", f"{args.workload}-{args.seed}.json")
            write_trace(args, rep, state, path)
            log(f"trace written to {path}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} "
          f"trace {args.trace} (held-out seed {HELD_OUT_SEED})")
    print(f"host steal_pct {state['steal_pct']:.2f} touch_mb_s "
          f"{state['touch_mb_s_start']:.0f}/{state['touch_mb_s_end']:.0f}")
    for name, v, unit in rep["human"]:
        print(f"{name} {v:.6g} {unit}")
    for e in rep["errors"][:20]:
        print(f"ERROR {e}")
    if args.trace:
        out = {k: {"value": float(rep["layers"].get(k, 0.0)), "unit": metrics.unit_of(k)}
               for k in metrics.LAYER_KEYS + metrics.STREAM_KEYS}
        for k, v in out.items():
            print(f"{k} {v['value']:.6g} {v['unit']}")
    else:
        out = {k: {"value": float(v), "unit": u} for k, (v, u) in rep["e2e"].items()}
    print(json.dumps({"correct": not rep["errors"], "attempted": rep["attempted"],
                      "failed": rep["failed"], "metrics": out}))
    return 0


def write_trace(args, rep, state, path):
    """Spans, per-operation layer counts and the self-time split of a
    traced run."""
    res = rep["result"]
    spans, per_op = [], []
    for i, o in enumerate(res.get("ops", [])):
        sid = f"op-{i}"
        spans.append({"id": sid, "name": o["q"], "start": o["start_ms"],
                      "end": o["end_ms"], "parent": None})
        for s in o.get("spans", []):
            spans.append(dict(s, id=f"{sid}/{s['id']}", parent=sid))
        if o.get("ok"):
            jobs = [tuple(j) for j in o.get("jobs", [])]
            wall = o["end_ms"] - o["start_ms"]
            jobs_ms = metrics.union_length(
                [(max(a, o["start_ms"]), min(b, o["end_ms"])) for a, b in jobs])
            lay = o.get("layers", {})
            plan = sum(lay.get(f"spark.plan.{p}_ms", 0.0)
                       for p in ("analysis", "optimization", "planning"))
            gap = wall - jobs_ms
            per_op.append({"q": o["q"], "pass": o["pass"], "wall_ms": wall,
                           "self_ms": {"spark.jobs": jobs_ms,
                                       "spark.plan": min(plan, gap),
                                       "driver.other": max(gap - plan, 0.0)},
                           "layers": lay})
    extra = rep.get("extra", {})
    spans += extra.get("spans", [])
    doc = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "host": state, "layers": rep["layers"],
           "self_ms": extra.get("self_ms") or self_totals(per_op),
           "ops": per_op, "spans": spans, "e2e": {k: v for k, (v, _) in rep["e2e"].items()}}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)


def self_totals(per_op):
    tot = {}
    for o in per_op:
        for k, v in o["self_ms"].items():
            tot[k] = tot.get(k, 0.0) + v
    return tot


if __name__ == "__main__":
    sys.exit(main())
