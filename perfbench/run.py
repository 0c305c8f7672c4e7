"""Benchmark of the extraction engine: four seeded batch workloads driven
through the public Spark entry points, plus a traced run that splits a
document's time into layers.

    python3 perfbench/run.py --workload web_small --seed 1 --seconds 10 --trace 0

Prints a report line (host facts, samples, checks) and, as the last line,
{"correct", "attempted", "failed", "metrics"}: with --trace 0 the
end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer ones.
See perfbench/README.md for what each workload and metric is for.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import ast  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import sysconfig  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
TRACE_SITE = os.path.join(HERE, "trace_site")

sys.path.insert(0, HERE)
import gen  # noqa: E402

# n documents in P parquet files; files [0, P/4) hold every 4th document of
# the generation order and are the input of the narrow (local[N]) runs.
WORKLOADS = {
    "web_small": {"kind": "spans", "n": 4000, "files": 8},
    "web_large_media": {"kind": "spans", "n": 64, "files": 8},
    "query_fanout": {"kind": "html", "n": 1200, "files": 4},
    "pipeline_resume": {"kind": "pipeline", "n": 1000, "files": 4},
}
PIPELINE_PARTS = 4
PIPELINE_PARTS_PER_BATCH = 2
# Each run is a fresh JVM that lives under a minute: C2 compile bursts would
# land inside the timed segments, so the JVM stops at C1.  No perf data
# file: it would go to /tmp, outside the checkout.
JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:-UsePerfData"


def now() -> float:
    return time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# host facts
# ---------------------------------------------------------------------------

def host_facts(seed: int) -> dict:
    nproc = len(os.sched_getaffinity(0))
    smt = 1
    try:
        with open("/sys/devices/system/cpu/cpu0/topology/thread_siblings_list") as f:
            sib = f.read().strip()
        smt = sum(int(b) - int(a) + 1 if "-" in r else 1
                  for r in sib.split(",") for a, _, b in [r.partition("-")])
    except (OSError, ValueError):
        pass
    n = max(1, (nproc // smt) // 4)
    facts = {"nproc": nproc, "smt_threads_per_core": smt, "seed": seed,
             "n_narrow": n, "n_wide": 4 * n, "scaling_ok": 4 * n <= nproc}
    if not facts["scaling_ok"]:
        facts["scaling_reason"] = f"4N={4 * n} exceeds nproc={nproc}"
        log(f"scaling_eff disabled: {facts['scaling_reason']}")
    facts.update(c_engine_status())
    facts.update(reference_status())
    return facts


def c_engine_status() -> dict:
    """Whether the C tree engine loads in this interpreter (workers load the
    same cached build), and why not when it does not."""
    from ksoup_spark.kernel import ctokenizer

    if ctokenizer.tree_module() is not None:
        return {"c_engine": True}
    if os.environ.get("KSOUP_SPARK_NO_CTOK") == "1":
        reason = "disabled by KSOUP_SPARK_NO_CTOK=1"
    elif os.environ.get("KSOUP_SPARK_NO_CTREE") == "1":
        reason = "tree engine disabled by KSOUP_SPARK_NO_CTREE=1"
    elif shutil.which("gcc") is None:
        reason = "gcc not found"
    elif not os.path.exists(os.path.join(sysconfig.get_paths()["include"],
                                         "Python.h")):
        reason = "Python.h not found"
    else:
        reason = "C build or load failed"
    log(f"WARNING: C engine not loaded ({reason}); the pure-Python path runs")
    return {"c_engine": False, "c_engine_reason": reason}


def reference_status() -> dict:
    """Whether the reference page bench.py anchors on is present (its path
    is read from bench.py, not repeated here)."""
    try:
        with open(os.path.join(ROOT, "bench.py")) as f:
            tree = ast.parse(f.read())
    except (OSError, SyntaxError):
        return {"reference_present": False}
    for node in tree.body:
        if isinstance(node, ast.Assign) and isinstance(node.value, ast.Constant) \
                and any(getattr(t, "id", "") == "_ANCHOR_PAGE" for t in node.targets):
            return {"reference_present": os.path.exists(node.value.value)}
    return {"reference_present": False}


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

class Inputs:
    def __init__(self, workload: str, seed: int, work: str):
        import pyarrow as pa
        import pyarrow.parquet as pq

        spec = WORKLOADS[workload]
        docs = gen.generate(workload, seed, spec["n"])
        nf = spec["files"]
        q = nf // 4
        groups: list[list[dict]] = [[] for _ in range(nf)]
        for i, d in enumerate(docs):
            groups[(i % 4) * q + (i // 4) % q].append(d)
        span_t = pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                                     ("media_ref", pa.string()), ("offset", pa.int32())]))
        in_dir = os.path.join(work, "input")
        os.makedirs(in_dir)
        self.files, sizes = [], []
        for k, grp in enumerate(groups):
            ids = [d["doc_id"] for d in grp]
            if spec["kind"] == "html":
                cols = [pa.array(ids), pa.array([d["html"] for d in grp])]
                names = ["doc_id", "html"]
                sizes.append(sum(len(d["html"].encode("utf-8")) for d in grp))
            else:
                cols = [pa.array(ids), pa.array([d["input_spans"] for d in grp], span_t)]
                names = ["doc_id", "spans"]
                sizes.append(sum(gen.in_bytes(d["input_spans"]) for d in grp))
            path = os.path.join(in_dir, f"part-{k:03d}.parquet")
            pq.write_table(pa.table(cols, names=names), path)
            self.files.append(path)
        if spec["kind"] == "html":
            digests = [gen.sha(gen.fanout_canon(d["expected"])) for d in docs]
        else:
            digests = [gen.sha(gen.spans_canon(d["spans"])) for d in docs]
        self.expected = os.path.join(work, "expected.parquet")
        pq.write_table(pa.table([pa.array([d["doc_id"] for d in docs]), pa.array(digests)],
                                names=["doc_id", "e"]), self.expected)
        self.n = len(docs)
        self.bytes = sum(sizes)
        self.narrow_files = self.files[:q]
        self.narrow_n = sum(len(g) for g in groups[:q])


# ---------------------------------------------------------------------------
# sessions
# ---------------------------------------------------------------------------

def start_session(cores: int):
    from ksoup_spark.session import get_spark

    spark = get_spark(app="perfbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    # one input file per partition, so the narrow runs get exactly 1/4 of
    # the wide runs' partitions
    spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 30))
    return spark


def stop_gateway() -> None:
    """Stop the JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception as e:  # the JVM may already be gone
        log(f"gateway shutdown: {e!r}")
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# workloads: a job runs the work once (noop sink); digests() yields
# (doc_id, d) for the correctness check
# ---------------------------------------------------------------------------

def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def spans_canon_col(c):
    from pyspark.sql import functions as F

    def item(s):
        return F.concat_ws(
            gen.FIELD_SEP, F.coalesce(s["kind"], F.lit(gen.NULL)),
            F.coalesce(s["text"], F.lit(gen.NULL)),
            F.coalesce(s["media_ref"], F.lit(gen.NULL)),
            F.coalesce(s["offset"].cast("string"), F.lit(gen.NULL)))
    return F.array_join(F.transform(c, item), gen.ITEM_SEP)


def fanout_df(df):
    from pyspark.sql import functions as F

    from ksoup_spark.functions import html as H
    from ksoup_spark.operators.extract import node_table_df, select_elements_df
    from ksoup_spark.operators.nodequery import compile_selector

    acc = df.select(
        "doc_id", H.html_text("html").alias("text"), H.html_title("html").alias("title"),
        H.html_select_text("html", gen.SELECT_TEXT_CSS).alias("sel"),
        H.html_media_refs("html").alias("media"))
    el = select_elements_df(df, gen.SELECT_ELEMENTS_CSS).groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct(
            "match_index", "tag", "text", "own_text",
            F.col("attrs")["class"].alias("cls")))).alias("li"))
    nq = compile_selector(node_table_df(df), gen.NODEQUERY_CSS) \
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("nq"))
    return acc.join(el, "doc_id", "left").join(nq, "doc_id", "left")


def fanout_digest(out):
    from pyspark.sql import functions as F

    li = F.array_join(F.transform("li", lambda s: F.concat_ws(
        gen.FIELD_SEP, s["match_index"].cast("string"), s["tag"], s["text"],
        s["own_text"], F.coalesce(s["cls"], F.lit(gen.NULL)))), gen.ITEM_SEP)
    canon = F.concat_ws(
        gen.ITEM_SEP, F.col("text"), F.col("title"),
        F.array_join("sel", gen.FIELD_SEP), F.array_join("media", gen.FIELD_SEP),
        F.coalesce(li, F.lit("")), F.coalesce(F.col("nq"), F.lit(0)).cast("string"))
    return out.select("doc_id", F.sha2(canon, 256).alias("d"))


class Workload:
    """Binds a workload to a session and an input file set."""

    def __init__(self, name: str, spark, files: list[str], work: str):
        self.name = name
        self.kind = WORKLOADS[name]["kind"]
        self.spark = spark
        self.work = work
        self.files = files
        self.df = spark.read.parquet(*files)
        self.last_pipeline: dict = {}

    def job(self) -> float:
        """Run the work once; returns its wall time in seconds."""
        from ksoup_spark.operators.extract import extract_spans_df

        if self.kind == "pipeline":
            return self.pipeline(keep=False)["wall_s"]
        t0 = now()
        if self.kind == "spans":
            _noop(extract_spans_df(self.df))
        else:
            _noop(fanout_df(self.df))
        return now() - t0

    def pipeline(self, keep: bool) -> dict:
        from ksoup_spark.plans.pipeline import run_extraction_pipeline

        d = tempfile.mkdtemp(dir=self.work, prefix="pipe-")
        out, met = os.path.join(d, "spans"), os.path.join(d, "metrics")
        t0 = now()
        run_extraction_pipeline(self.spark, self.df, out, met, PIPELINE_PARTS,
                                PIPELINE_PARTS_PER_BATCH)
        t1 = now()
        r2 = run_extraction_pipeline(self.spark, self.df, out, met, PIPELINE_PARTS,
                                     PIPELINE_PARTS_PER_BATCH)
        t2 = now()
        files = [os.path.join(p, f) for p, _, fs in os.walk(d) for f in fs]
        info = {"wall_s": t2 - t0, "resume_s": t2 - t1, "dir": d, "out": out,
                "metrics": met, "resume_processed": r2["processed_parts"],
                "files_written": sum(1 for f in files if f.endswith(".parquet")),
                "bytes_written": sum(os.path.getsize(f) for f in files)}
        self.last_pipeline = info
        if not keep:
            shutil.rmtree(d)
        return info

    def digests(self):
        from pyspark.sql import functions as F

        from ksoup_spark.operators.extract import extract_spans_df

        if self.kind == "spans":
            out = extract_spans_df(self.df)
        elif self.kind == "html":
            return fanout_digest(fanout_df(self.df))
        else:
            out = self.spark.read.parquet(self.pipeline(keep=True)["out"])
        return out.select("doc_id", F.sha2(spans_canon_col(F.col("spans")), 256).alias("d"))

    def check(self, expected: str, n: int) -> dict:
        """Compare every document's output digest with the generator's,
        JVM-side; returns attempted/failed and a digest of all outputs."""
        from pyspark.sql import functions as F

        exp = self.spark.read.parquet(expected)
        j = exp.join(self.digests(), "doc_id", "left")
        bad = F.col("d").isNull() | (F.col("d") != F.col("e"))
        row = j.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(bad.cast("int")).alias("bad"),
            F.sha2(F.concat_ws(",", F.array_sort(F.collect_list(
                F.concat_ws(":", "doc_id", F.coalesce("d", F.lit("-")))))), 256).alias("all"),
        ).first()
        failed = int(row["bad"] or 0) + max(0, int(row["rows"]) - n)
        res = {"attempted": n, "failed": failed, "digest": row["all"]}
        if failed:
            res["failed_ids"] = [r["doc_id"] for r in j.filter(bad).select("doc_id").limit(5).collect()]
            log(f"{failed} of {n} documents differ from the expected output, e.g. {res['failed_ids']}")
        if self.kind == "pipeline":
            info = self.last_pipeline
            if info["resume_processed"]:
                log(f"resume call reprocessed parts {info['resume_processed']}")
                res["failed"] = n
            shutil.rmtree(info["dir"])
        return res


def identity_frame(df) -> float:
    """Wall time of an identity mapInArrow over the same input: JVM scan,
    Arrow framing, worker IPC and scheduling with no kernel work."""
    def ident(batches):
        yield from batches

    t0 = now()
    _noop(df.mapInArrow(ident, df.schema))
    return now() - t0


def loop(job, budget_s: float, min_jobs: int = 1) -> list[float]:
    """Closed loop: run the job back to back until the budget is spent."""
    walls: list[float] = []
    end = now() + budget_s
    while len(walls) < min_jobs or now() < end:
        walls.append(job())
    return walls


def worker_peak_rss_mb() -> float:
    """Largest peak RSS (VmHWM) among the Python worker processes that
    descend from this process."""
    parent: dict[int, int] = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    parent[int(p)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    kids: dict[int, list[int]] = {}
    for pid, pp in parent.items():
        kids.setdefault(pp, []).append(pid)
    todo, desc = [os.getpid()], []
    while todo:
        for c in kids.get(todo.pop(), []):
            desc.append(c)
            todo.append(c)
    peak = 0
    for pid in desc:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
            if not os.path.basename(argv[0]).startswith(b"python"):
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            pass
    return peak / 1024.0


def med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# runs
# ---------------------------------------------------------------------------

def setup(name: str, cores: int, files: list[str], work: str, t0: float,
          warm) -> tuple:
    """(Re)start a session on `cores`, load the input and warm the workers
    with one pass (`warm(w)`); returns the workload, the setup time since
    t0, the session start time and the warm pass's result and time."""
    t_s = now()
    spark = start_session(cores)
    start_s = now() - t_s
    w = Workload(name, spark, files, work)
    t_w = now()
    res = warm(w)
    warm_s = now() - t_w
    return w, now() - t0, start_s, (res, warm_s)


def warm_workers(w: "Workload") -> None:
    """Warm pass of a restarted session, whose JVM is already warm: an
    identity pass over one input file that makes the new Python worker
    import the package, as the first real job would."""
    def ident(batches):
        import ksoup_spark.functions.html  # noqa: F401
        import ksoup_spark.operators.extract  # noqa: F401
        yield from batches

    df = w.spark.read.parquet(w.files[0])
    _noop(df.mapInArrow(ident, df.schema))


def timed_run(args, facts: dict, inp: Inputs, work: str) -> dict:
    """--trace 0: end-to-end metrics.  A cold setup at local[4N] whose warm
    pass is the correctness check, then four segments, local[4N] and
    local[N] (input: a quarter of the documents) in turn, each after a
    session restart but the first, so slow phases of the host hit both
    sides of the scaling ratio.  setup_s is the median of the setups."""
    n_wide, n_narrow = facts["n_wide"], facts["n_narrow"]
    seg = args.seconds / 4
    w, s1, start_s, (chk, warm_s) = setup(
        args.workload, n_wide, inp.files, work, T_PROCESS,
        warm=lambda w: w.check(inp.expected, inp.n))
    setups = [s1]
    wide: list[float] = []
    narrow: list[float] = []
    rss = 0.0
    plan = [("wide", n_wide, inp.files)]
    if facts["scaling_ok"]:
        plan.append(("narrow", n_narrow, inp.narrow_files))
    for i, (side, cores, files) in enumerate(plan * 2):
        if i:
            w, s, _, _ = setup(args.workload, cores, files, work, now(),
                               warm=warm_workers)
            setups.append(s)
        walls = loop(w.job, seg if facts["scaling_ok"] else 2 * seg, min_jobs=2)
        if side == "wide":
            wide += walls
            rss = max(rss, worker_peak_rss_mb())
        else:
            narrow += walls
        w.spark.stop()
    thr = [inp.n / x for x in wide]
    scaling = None
    if narrow:
        scaling = med(thr) / (4 * med([inp.narrow_n / x for x in narrow]))
    metrics = {
        "setup_s": (med(setups), "s"),
        "docs_per_s": (med(thr), "docs/s"),
        "mb_per_s": (med([inp.bytes / 1e6 / x for x in wide]), "MB/s"),
        "scaling_eff": (scaling, "ratio"),
        "worker_rss_mb": (rss, "MB"),
    }
    report = {"setups_s": setups, "session_start_s": start_s, "warm_s": warm_s,
              "wide_walls_s": wide, "narrow_walls_s": narrow, "docs": inp.n,
              "narrow_docs": inp.narrow_n, "in_bytes": inp.bytes}
    return {"metrics": metrics, "report": report, "check": chk}


class DictParam:
    """Accumulator param: string -> int, summed key by key."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, v in b.items():
            a[k] = a.get(k, 0) + v
        return a


def anchor_ms(reps: int = 7) -> float:
    """Single-core parse + span extraction of the fixed ~450 KB anchor page
    (median of reps, after one warm run)."""
    from ksoup_spark.kernel.textops import extract_spans
    from ksoup_spark.kernel.treebuilder import parse

    page = gen.anchor_page()
    extract_spans(parse(page))
    ts = []
    for _ in range(reps):
        t0 = now()
        extract_spans(parse(page))
        ts.append((now() - t0) * 1e3)
    return med(ts)


# layer -> span names whose self time it owns
LAYERS = {
    "extract": ("kernel", "extract.decode", "extract.assemble", "extract.encode"),
    "treebuilder": ("treebuilder.parse",),
    "textops": ("textops.extract",),
    "dom": ("dom.resolve_url",),
    "selector": ("selector.select",),
    "html": ("html.udf",),
}


class Tracer:
    """Turns tracing on and off for the jobs of a session: while on, new
    UDFs get trace_site on their workers' path (a separate worker pool, so
    toggling respawns nothing after the first traced job) and report into
    one dict accumulator."""

    def __init__(self, sc):
        self.sc = sc
        self.acc = sc.accumulator({}, DictParam())

    def run(self, fn):
        env = self.sc.environment
        env["PYTHONPATH"] = TRACE_SITE
        env["PERFBENCH_TRACE_AID"] = str(self.acc.aid)
        try:
            return fn()
        finally:
            del env["PYTHONPATH"], env["PERFBENCH_TRACE_AID"]

    def take(self) -> dict:
        st = dict(self.acc.value)
        self.acc.value = {}
        return st


def pipeline_layer(w: "Workload") -> dict:
    """One pipeline run plus resume over the workload's input, and the
    completed_parts + anti-join plan timed on its own."""
    from ksoup_spark.plans.pipeline import completed_parts, with_part

    info = w.pipeline(keep=True)
    t0 = now()
    with_part(w.df, PIPELINE_PARTS).select("part").distinct() \
        .join(completed_parts(w.spark, info["metrics"]), "part", "left_anti").collect()
    info["plan_s"] = now() - t0
    shutil.rmtree(info["dir"])
    return info


def nodequery_stats(w: "Workload", n: int) -> dict:
    """Node-table rows per doc and the wall time of the nodequery count
    over w's (doc_id, html) input."""
    from ksoup_spark.operators.extract import node_table_df
    from ksoup_spark.operators.nodequery import compile_selector

    rows = node_table_df(w.df).count()
    t0 = now()
    compile_selector(node_table_df(w.df), gen.NODEQUERY_CSS).groupBy("doc_id").count().collect()
    return {"node_rows_per_doc": rows / n, "query_s": now() - t0}


def traced_run(args, facts: dict, inp: Inputs, work: str) -> dict:
    """--trace 1: per-layer metrics.  One session at local[4N]: an untraced
    pass, an identity pass (the Spark frame), a traced pass, and side
    passes for the layers the workload does not reach (web_small: the
    pipeline, and the query fan-out over query_fanout-shaped docs of the
    same seed)."""
    cores = facts["n_wide"]
    S = args.seconds
    w, s1, start_s, (chk, warm_s) = setup(
        args.workload, cores, inp.files, work, T_PROCESS,
        warm=lambda w: w.check(inp.expected, inp.n))
    # untraced, identity-frame and traced jobs in turn, so the host's slow
    # and fast phases fall on all three alike
    tr = Tracer(w.spark.sparkContext)
    tr.run(w.job)  # spawns the traced workers; not counted
    tr.take()
    untraced, frame, traced = [], [], []
    end = now() + S
    while len(traced) < 3 or now() < end:
        untraced.append(w.job())
        frame.append(identity_frame(w.df))
        traced.append(tr.run(w.job))
    st = tr.take()
    tchk = tr.run(lambda: w.check(inp.expected, inp.n))
    n = inp.n
    nd = n * len(traced)
    same = tchk["digest"] == chk["digest"]
    if not same:
        log("traced output digest differs from the untraced one")

    pipe: dict = {}
    if args.workload in ("web_small", "pipeline_resume"):
        pipe = pipeline_layer(w)
    # the fan-out layers (html, selector, nodequery): the workload itself
    # for query_fanout, a side pass over query_fanout docs for web_small
    fan_st, fd, nq = st, nd, {}
    if w.kind == "html":
        nq = nodequery_stats(w, inp.n)
    elif args.workload == "web_small":
        fwork = os.path.join(work, "fanout")
        os.makedirs(fwork)
        finp = Inputs("query_fanout", args.seed, fwork)
        fw = Workload("query_fanout", w.spark, finp.files, fwork)
        fchk = fw.check(finp.expected, finp.n)
        chk = {**chk, "attempted": chk["attempted"] + fchk["attempted"],
               "failed": chk["failed"] + fchk["failed"]}
        nq = nodequery_stats(fw, finp.n)
        ftr = Tracer(w.spark.sparkContext)
        fwalls = [ftr.run(fw.job) for _ in range(3)]
        fan_st = ftr.take()
        fd = finp.n * len(fwalls)
    w.spark.stop()
    anchor = anchor_ms()

    def per_doc(key: str, stats: dict = st, docs: float = nd) -> float:
        return stats.get(key, 0) / docs

    def us(key: str, stats: dict = st, docs: float = nd) -> float:
        return per_doc(key, stats, docs) / 1e3

    layer_self = {k: sum(us(s + ".self_ns") for s in v) for k, v in LAYERS.items()}
    udf_us = sum(layer_self.values())
    core_us = med(untraced) * cores / n * 1e6
    frame_us = med(frame) * cores / n * 1e6
    closure = (frame_us + udf_us) / core_us - 1
    overhead = med(traced) / med(untraced) - 1
    parse_ns = st.get("treebuilder.parse.ns", 0)
    closure_gated = w.kind == "spans"
    if closure_gated and abs(closure) > 0.10:
        log(f"closure check failed: frame + layers = {frame_us + udf_us:.1f} us/doc "
            f"vs {core_us:.1f} us/doc of core time ({closure:+.1%})")
    m = {
        "session.start_s": (start_s, "s"),
        "session.warm_s": (warm_s, "s"),
        "spark.frame_us_per_doc": (frame_us, "us"),
        "spark.machinery_share": (1 - udf_us * n / 1e6 / (med(traced) * cores), "ratio"),
        "spark.rows_per_batch": (st.get("spark.rows", 0) / max(1, st.get("spark.batches", 0)), "rows"),
        "extract.decode_us_per_doc": (us("extract.decode.self_ns"), "us"),
        "extract.assemble_us_per_doc": (us("extract.assemble.self_ns"), "us"),
        "extract.encode_us_per_doc": (us("extract.encode.self_ns"), "us"),
        "extract.harness_us_per_doc": (us("kernel.self_ns"), "us"),
        "extract.arrow_bytes_in_per_doc": (per_doc("extract.arrow_bytes_in"), "B"),
        "extract.arrow_bytes_out_per_doc": (per_doc("extract.arrow_bytes_out"), "B"),
        "treebuilder.parse_us_per_doc": (us("treebuilder.parse.self_ns"), "us"),
        "treebuilder.parse_mb_per_s": (st.get("treebuilder.parse.chars", 0) * 1e3 / parse_ns
                                       if parse_ns else 0.0, "MB/s"),
        "treebuilder.py_bails_per_doc": (per_doc("treebuilder.process.calls"), "count"),
        "treebuilder.bail_us_per_doc": (us("treebuilder.process.ns"), "us"),
        "treebuilder.anchor_ms": (anchor, "ms"),
        "textops.extract_us_per_doc": (us("textops.extract.self_ns"), "us"),
        "textops.spans_per_doc": (per_doc("textops.extract.spans"), "count"),
        "dom.resolve_url_us_per_doc": (us("dom.resolve_url.self_ns"), "us"),
        "dom.resolve_url_calls_per_doc": (per_doc("dom.resolve_url.calls"), "count"),
        "html.parses_per_doc": (per_doc("treebuilder.parse.calls", fan_st, fd)
                                + per_doc("stream_title.calls", fan_st, fd), "count"),
        "html.udf_us_per_doc": (us("html.udf.self_ns", fan_st, fd), "us"),
        "selector.select_us_per_doc": (us("selector.select.self_ns", fan_st, fd), "us"),
        "selector.matches_per_doc": (per_doc("selector.select.matches", fan_st, fd), "count"),
        "nodequery.node_rows_per_doc": (nq.get("node_rows_per_doc", 0.0), "count"),
        "nodequery.query_s": (nq.get("query_s", 0.0), "s"),
        "pipeline.plan_s": (pipe.get("plan_s", 0.0), "s"),
        "pipeline.resume_s": (pipe.get("resume_s", 0.0), "s"),
        "pipeline.bytes_written": (pipe.get("bytes_written", 0), "B"),
        "pipeline.files_written": (pipe.get("files_written", 0), "count"),
        "pipeline.out_bytes_per_in_byte": (pipe.get("bytes_written", 0) / inp.bytes, "ratio"),
        "docs_failed_frac": (chk["failed"] / chk["attempted"], "ratio"),
        "trace.overhead_frac": (overhead, "ratio"),
        "trace.closure_err_frac": (closure, "ratio"),
    }
    report = {
        "setup_s": s1, "untraced_walls_s": untraced, "frame_walls_s": frame,
        "traced_walls_s": traced, "core_us_per_doc": core_us,
        "layer_self_us_per_doc": layer_self, "udf_us_per_doc": udf_us,
        "closure": {"err": closure, "gated": closure_gated,
                    "ok": abs(closure) <= 0.10},
        "digest_equal": same, "counters": st,
        "fanout_counters": fan_st if fan_st is not st else None,
        "check": chk, "traced_check": {k: v for k, v in tchk.items() if k != "digest"},
    }
    return {"metrics": m, "report": report, "check": chk, "ok": same and tchk["failed"] == 0}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ksoup_spark")):
        log(f"no ksoup_spark package under {ROOT}; run from a full checkout")
        return 2

    os.makedirs(WORK, exist_ok=True)
    work = tempfile.mkdtemp(dir=WORK, prefix=f"{args.workload}-")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # everything the run writes stays under the checkout; workers import
    # the package from it
    os.environ.update({
        "PYTHONPATH": ROOT,
        "PYTHONDONTWRITEBYTECODE": "1",
        "KSOUP_CTOK_CACHE": os.path.join(WORK, "ctok"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "SPARK_SUBMIT_OPTS": (os.environ.get("SPARK_SUBMIT_OPTS", "")
                              + f" -Djava.io.tmpdir={tmp} {JVM_OPTS}").strip(),
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    })
    tempfile.tempdir = tmp
    sys.dont_write_bytecode = True
    sys.path.insert(0, ROOT)
    try:
        facts = host_facts(args.seed)
        t0 = now()
        inp = Inputs(args.workload, args.seed, work)
        facts["inputs_s"] = now() - t0
        if args.trace:
            res = traced_run(args, facts, inp, work)
        else:
            res = timed_run(args, facts, inp, work)
    finally:
        stop_gateway()
        shutil.rmtree(work, ignore_errors=True)
    chk = res["check"]
    correct = chk["failed"] == 0 and res.get("ok", True)
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()}
    print(json.dumps({"report": {"workload": args.workload, "trace": args.trace,
                                 "seconds": args.seconds, "host": facts,
                                 **res["report"]}}, default=str))
    print(json.dumps({"correct": correct, "attempted": chk["attempted"],
                      "failed": chk["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
