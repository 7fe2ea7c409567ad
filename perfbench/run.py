#!/usr/bin/env python3
"""Benchmark for pdf_extract_sys_spark: one named workload at one seed.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload pdf-native --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke            # every workload, tiny inputs

Workloads (see BENCHMARK.json and perfbench/README.md for why each exists):

* ``pdf-native``       clean native-text PDF docs, extraction job to a noop sink
* ``web-skew-resume``  HTML (some non-ASCII), scanned/OCR docs, media, garbage,
                       poison docs and a mega-doc tail through
                       ``checkpoint.run_extraction``: crash-half, resume, no-op

The traced run of ``web-skew-resume`` also times a fixed sample of
``queries.REGISTRY`` (the queries layer) on seeded ``bench_data.py`` tables.

With ``--trace 0`` the run measures the end-to-end metrics with tracing off;
with ``--trace 1`` it prints the per-layer metrics instead, from an event-logged
Spark pass and an in-process replay with timing wrappers. Every run checks its
outputs; a failed check fails the run. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path.cwd()
CORES = len(os.sched_getaffinity(0))
SHUFFLE_PARTITIONS = 8
CHECKPOINT_PARTITIONS = 8
CRASH_HALF = list(range(0, CHECKPOINT_PARTITIONS, 2))  # the crash call's process_only


def log(msg: str) -> None:
    print(msg, flush=True)


# ---------------------------------------------------------------------------
# processes and memory
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def rss_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


class RssSampler:
    """Peak summed RSS of the JVM and of the processes under it (the Python
    workers), sampled while the measured actions run."""

    def __init__(self, jvm_pid: int, period: float = 0.2) -> None:
        self.jvm_pid, self.period = jvm_pid, period
        self.peak = self.jvm_peak = self.worker_peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            pids = descendants(self.jvm_pid)
            jvm, workers = rss_mb(pids[:1]), rss_mb(pids[1:])
            self.jvm_peak = max(self.jvm_peak, jvm)
            self.worker_peak = max(self.worker_peak, workers)
            self.peak = max(self.peak, jvm + workers)
            self._stop.wait(self.period)

    def record(self, run: "Run") -> None:
        run.extra["peak_rss_mb"] = self.peak
        run.extra["jvm_rss_mb"] = self.jvm_peak
        run.extra["worker_rss_mb"] = self.worker_peak

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# Spark sessions
# ---------------------------------------------------------------------------


class Spark:
    """Owns the JVM for one run: starts sessions, stops them, and at the end
    shuts the gateway down and waits for every process under it."""

    def __init__(self, tmp: Path, event_log: Path | None, cores: int) -> None:
        self.tmp, self.event_log, self.cores = tmp, event_log, cores
        self.session = None
        self.proc = None

    def start(self):
        from perfbench.inputs import BATCH_ROWS
        from pdf_extract_sys_spark.pipeline import default_session

        conf = {
            "spark.ui.enabled": "false",
            "spark.local.dir": str(self.tmp / "spark"),
            "spark.sql.warehouse.dir": str(self.tmp / "warehouse"),
            # JVM pools sized for the cores the run uses, as in bench.py
            "spark.driver.extraJavaOptions": f"-XX:ActiveProcessorCount={self.cores}",
            # one input split per corpus file at every core count
            "spark.sql.files.openCostInBytes": str(64 * 1024),
            "spark.sql.files.minPartitionNum": "16",
            "spark.eventLog.enabled": "true" if self.event_log else "false",
        }
        if self.event_log:
            self.event_log.mkdir(parents=True, exist_ok=True)
            conf["spark.eventLog.dir"] = self.event_log.resolve().as_uri()
            conf["spark.eventLog.compress"] = "false"
        self.session = default_session(app="perfbench", master=f"local[{self.cores}]",
                                       shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
        self.session.sparkContext.setLogLevel("ERROR")
        self.session.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(BATCH_ROWS))
        if self.proc is None:
            self.proc = self.session.sparkContext._gateway.proc
        return self.session

    def shutdown(self) -> None:
        from pyspark import SparkContext

        if self.session is not None:
            self.session.stop()
            self.session = None
        gw = SparkContext._gateway
        pids = descendants(self.proc.pid) if self.proc else []
        if gw is not None:
            try:
                gw.shutdown()
            except Exception as e:  # the JVM may already be gone
                log(f"# gateway shutdown: {e!r}")
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self.proc is not None:
            self.proc.stdin.close()  # the gateway JVM exits when stdin closes
            try:
                self.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
            self.proc = None
        for p in pids[1:]:  # python daemon and workers outliving the JVM
            try:
                os.kill(p, 9)
            except OSError:
                pass
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and any(_alive(p) for p in pids[1:]):
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _warm_batches(batches):
    """mapInArrow body of the warm-up job: import the extraction code and
    extract one small doc in this worker."""
    import pyarrow as pa

    from pdf_extract_sys_spark import corpus as C
    from pdf_extract_sys_spark.extract import extract_map_in_arrow
    from pdf_extract_sys_spark.schema import CORPUS_ARROW

    doc = {"doc_id": "warm", "spans": [C.span("pdf_chars", C.encode_pdf_text(
        "Warm up sentence number one. And a second sentence to pass fifty."), None, 0)]}
    for b in batches:
        for _ in extract_map_in_arrow(iter(pa.Table.from_pylist([doc], schema=CORPUS_ARROW).to_batches())):
            pass
        yield b


def warm_workers(spark, cores: int) -> None:
    """Start one Python worker per task slot, each with the extraction code loaded."""
    (spark.range(cores, numPartitions=cores).mapInArrow(_warm_batches, "id long")
     .write.format("noop").mode("overwrite").save())


def set_up(sp: Spark) -> float:
    """Session start to ready-to-measure: JVM, session, a warm Python worker
    per task slot."""
    t0 = time.monotonic()
    warm_workers(sp.start(), sp.cores)
    return time.monotonic() - t0


def timed(fn, seconds: float) -> list:
    """Call ``fn`` at least once and until ``seconds`` have passed; return its
    results, each its own measured seconds."""
    out: list = []
    end = time.monotonic() + seconds
    while not out or time.monotonic() < end:
        out.append(fn())
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def noop(df) -> float:
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Run:
    def __init__(self, args, inputs, tmp: Path) -> None:
        self.args, self.inputs, self.tmp = args, inputs, tmp
        self.failures: list[str] = []
        self.attempted = 0
        self.e2e: dict[str, float] = {}
        self.extra: dict[str, float] = {}  # workload numbers printed, not gated
        self.layers: dict[str, float] = {}
        self.samples: dict[str, list[float]] = {}
        self.spark_digest: str | None = None  # of the checked Spark output
        self.calls: list[set[str]] | None = None  # doc ids of each checkpoint call
        self.trace_digest: str | None = None  # of the traced in-process replay

    def check(self, name: str, failed: list[str]) -> None:
        self.attempted += 1
        for f in failed:
            self.failures.append(f"{name}: {f}")
            log(f"# CHECK FAILED {name}: {f}")

    def describe(self, spark, phase: str) -> None:
        spark.sparkContext.setJobDescription(f"{self.args.workload}:{phase}")


def check_spark_output(run: Run, table, phase: str) -> dict:
    """Contract checks on a Spark output; its digest is kept for the traced
    run, which compares it with the traced in-process replay."""
    from perfbench import checks
    from perfbench.inputs import golden_docs

    spans = checks.doc_spans(table)
    run.check(f"{phase}:contract",
              checks.check_extraction(spans, table.num_rows, run.inputs.meta, golden_docs()[1]))
    run.spark_digest = checks.digest(spans)
    run.extra["failed_doc_ratio"] = checks.failed_docs(spans) / max(1, len(spans))
    return spans


def mega_oracle(run: Run) -> dict:
    """The mega docs extracted in this process, whole and unsalted: what the
    salted Spark path must produce for them."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from perfbench import checks, trace
    from pdf_extract_sys_spark.pipeline import DEFAULT_SALT_THRESHOLD

    mega = ds.dataset(str(run.inputs.path)).to_table(
        columns=["doc_id", "spans"], filter=pc.field("n_spans") > DEFAULT_SALT_THRESHOLD)
    return checks.doc_spans(trace.replay(mega.to_batches())[0])


def check_mega_docs(run: Run, spans: dict, want: dict, phase: str) -> None:
    """Salted = unsalted on the mega docs."""
    bad = [d for d in want if spans.get(d) != want[d]]
    run.check(f"{phase}:mega", [f"salted output differs on {len(bad)} mega docs"] if bad else [])


def extraction_job(spark, path: Path):
    """The extraction job as bench.py runs it: routing on the n_spans column."""
    from pdf_extract_sys_spark.pipeline import extract_corpus

    return extract_corpus(spark.read.parquet(str(path)), size_col="n_spans")


def run_noop_extraction(run: Run, sp: Spark, seconds: float) -> None:
    """pdf-native: a warm-up pass whose output is checked and an untimed noop
    pass (the first noop pass still runs ~10% slow), then timed passes."""
    spark = sp.session
    job = extraction_job(spark, run.inputs.path)
    run.describe(spark, "warm-up")
    check_spark_output(run, job.select("doc_id", "spans").toArrow(), "warm-up")
    noop(job)
    run.describe(spark, "pass")
    with RssSampler(sp.proc.pid) as rss:
        secs = timed(lambda: noop(job), seconds)
    run.attempted += len(secs)
    docs = run.inputs.meta["docs"]
    run.samples = {"pass_s": secs}
    run.e2e["docs_per_s"] = docs / statistics.median(secs)
    rss.record(run)


def checkpoint_args(run: Run, k: str) -> dict:
    """checkpoint.run_extraction arguments for a fresh output and checkpoint table."""
    return dict(run_id=f"bench-{k}", input_path=str(run.inputs.path),
                output_path=str(run.tmp / f"out{k}"), checkpoint_path=str(run.tmp / f"cp{k}"),
                num_partitions=CHECKPOINT_PARTITIONS)


def resume_triple(run: Run, spark, k: str) -> tuple[list[float], Path]:
    """crash-half, resume and no-op calls of checkpoint.run_extraction into a
    fresh output and checkpoint table. Returns the calls' walls and the output."""
    from pdf_extract_sys_spark.checkpoint import run_extraction

    kw = checkpoint_args(run, k)
    walls, summaries = [], []
    for phase, extra in (("crash-half", {"process_only": CRASH_HALF}),
                         ("resume", {}), ("no-op", {})):
        run.describe(spark, f"{phase}-{k}")
        t0 = time.monotonic()
        summaries.append(run_extraction(spark, **kw, **extra))
        walls.append(time.monotonic() - t0)
        log(f"# {phase}-{k}: {walls[-1]:.2f} s, {summaries[-1].partitions_pending} partitions")
    s1, s2, s3 = summaries
    bad = []
    if s3.partitions_pending != 0 or s3.docs_done != 0:
        bad.append(f"no-op call still found {s3.partitions_pending} pending partitions")
    if s1.docs_done + s2.docs_done != run.inputs.meta["docs"]:
        bad.append(f"crash+resume did {s1.docs_done}+{s2.docs_done} docs, "
                   f"input has {run.inputs.meta['docs']}")
    run.check(f"triple{k}:summaries", bad)
    return walls, Path(kw["output_path"])


def read_output(out: Path):
    import pyarrow.dataset as ds

    return ds.dataset(str(out), format="parquet", partitioning="hive").to_table(columns=["doc_id", "spans"])


def run_resume(run: Run, sp: Spark, seconds: float) -> None:
    """web-skew-resume: an untimed warm-up triple, then timed crash + resume
    + no-op triples; each triple's output is read back and checked after its
    timing ends. Then the docs are tagged with their checkpoint partitions,
    so the batches each call fed the extraction can be cut the same way
    outside Spark."""
    from pdf_extract_sys_spark.checkpoint import with_partition_id

    spark = sp.session
    want = mega_oracle(run)

    def triple(k: str) -> list[float]:
        walls, out = resume_triple(run, spark, k)
        check_mega_docs(run, check_spark_output(run, read_output(out), f"triple{k}"), want,
                        f"triple{k}")
        return walls

    # On a 4-core VM the first triple in a session ran 30-40 s, the second
    # 18-25 s and later ones 17-19 s. A second warm-up triple would steady
    # the timed one further, at the cost of a run about a third longer.
    triple("warm-up")
    ks = itertools.count()
    with RssSampler(sp.proc.pid) as rss:
        triples = timed(lambda: triple(str(next(ks))), seconds)
    run.attempted += len(triples)
    files = [f for d in (run.tmp / "out0", run.tmp / "cp0") for f in d.rglob("*")
             if f.is_file() and not f.name.startswith((".", "_"))]
    run.layers["checkpoint.files_written"] = len(files)
    run.layers["checkpoint.bytes_written"] = sum(f.stat().st_size for f in files)
    sums = [sum(w) for w in triples]
    run.samples = {"triple_s": sums, "resume_s": [w[1] for w in triples]}
    run.e2e["docs_per_s"] = run.inputs.meta["docs"] / statistics.median(sums)
    rss.record(run)
    run.extra["resume_s"] = statistics.median(w[1] for w in triples)
    run.describe(spark, "partition-ids")
    ids = with_partition_id(spark.read.parquet(str(run.inputs.path)).select("doc_id"),
                            CHECKPOINT_PARTITIONS).toArrow()
    crashed = {d for d, p in zip(ids["doc_id"].to_pylist(), ids["partition_id"].to_pylist())
               if p in CRASH_HALF}
    run.calls = [crashed, set(ids["doc_id"].to_pylist()) - crashed]


# A fixed sample of queries.REGISTRY: a relational aggregate, window
# functions, the near-duplicate pipeline (its shared candidate pairs charged
# cold to the first query) with connected components on top, and the
# extraction pipeline behind a query. All 40 queries take about a minute per
# pass on 4 cores at any scale factor, which does not fit the benchmark's
# time budget.
REGISTRY_SAMPLE = [
    "q_pricing_summary",
    "q_sessionize_events",
    "q_minhash_lsh_pairs",
    "q_dedup_clusters",
    "q_extract_sentences",
]


def oracle_frames(path: Path) -> dict:
    """Each sampled query's DuckDB oracle result over the same tables."""
    import duckdb

    from pdf_extract_sys_spark.queries import REGISTRY, resolve_sql

    con = duckdb.connect()
    try:
        for f in sorted(path.glob("*.parquet")):
            con.sql(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f.resolve()}')")
        return {n: con.sql(resolve_sql(REGISTRY[n][1])).df() for n in REGISTRY_SAMPLE}
    finally:
        con.close()


def _rows(df) -> list[tuple]:
    import math

    def norm(v):
        if hasattr(v, "item"):
            v = v.item()
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        if isinstance(v, float):
            return round(v, 4)
        return v if isinstance(v, (bool, int)) else str(v)

    cols = sorted(df.columns)
    return sorted((tuple(norm(v) for v in r) for r in df[cols].itertuples(index=False)),
                  key=lambda t: tuple((x is None, str(x)) for x in t))


def same_result(got, want) -> list[str]:
    """Row count, column names and values (floats within 1e-6 relative)."""
    import math

    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"rows {len(got)} != oracle {len(want)}"]
    for x, y in zip(_rows(got), _rows(want)):
        for u, v in zip(x, y):
            same = (math.isclose(u, v, rel_tol=1e-6, abs_tol=1e-3)
                    if isinstance(u, float) and isinstance(v, (float, int)) else u == v)
            if not same:
                return [f"value {u!r} != oracle {v!r}"]
    return []


def registry_pass(spark, path: Path, label: str, run: Run, check: dict | None) -> dict[str, float]:
    """One pass over REGISTRY_SAMPLE. With ``check`` (the oracle frames) each
    result is collected and compared; otherwise each is timed to a noop sink."""
    from pdf_extract_sys_spark import queries as Q

    times = {}
    for name in REGISTRY_SAMPLE:
        if name == "q_minhash_lsh_pairs":
            Q.clear_lsh_cache()  # the shared pair pipeline is charged to this query
        spark.sparkContext.setJobDescription(f"registry:{name}-{label}")
        t0 = time.monotonic()  # query functions may run eager jobs before returning
        df = Q.REGISTRY[name][0](spark, str(path))
        if check is None:
            df.write.format("noop").mode("overwrite").save()
            times[name] = time.monotonic() - t0
        else:
            run.check(name, same_result(df.toPandas(), check[name]))
        spark.catalog.clearCache()
    return times


def registry_layers(run: Run, spark) -> None:
    """The queries layer: REGISTRY_SAMPLE on seeded bench_data tables, a
    warm-up pass checked against the DuckDB oracles, then one timed pass."""
    from perfbench import inputs as I

    path = I.load("registry", run.args.seed, run.args.size).path
    registry_pass(spark, path, "warm-up", run, oracle_frames(path))
    times = registry_pass(spark, path, "0", run, None)
    qs = sorted(times.values())
    run.layers.update({f"queries.{n}_s": v for n, v in times.items()})
    run.layers.update({"queries.registry_s": sum(qs), "queries.p50_s": statistics.median(qs),
                       "queries.max_s": qs[-1]})


WORKLOADS = {
    "pdf-native": run_noop_extraction,
    "web-skew-resume": run_resume,
}


# ---------------------------------------------------------------------------
# traced run: per-layer metrics
# ---------------------------------------------------------------------------


def replay_layers(run: Run, batches: list) -> None:
    """In-process replay of the workload's batches (no Spark, no salting):
    two batches untraced as a warm-up, then every batch traced, then every
    batch untraced for the tracing overhead."""
    from perfbench import checks, trace

    trace.replay(batches[:2])
    tracer = trace.Tracer()
    table, wall = trace.replay(batches, tracer)
    _, plain = trace.replay(batches)
    run.layers.update(trace.layer_metrics(tracer, wall))
    run.layers["trace.overhead_ratio"] = wall / plain - 1.0
    run.trace_digest = checks.digest(checks.doc_spans(table))


def spark_layers(run: Run, log_dir: Path) -> None:
    """Task, scan, shuffle and checkpoint numbers of the first measured
    action, from the event log."""
    from perfbench import trace

    ev = trace.EventLog(trace.read_event_log(log_dir))
    wl = run.args.workload
    if wl == "web-skew-resume":
        descs = [f"{wl}:{p}-0" for p in ("crash-half", "resume", "no-op")]
        wall = run.samples["triple_s"][0]
        write_s = 0.0
        for d in descs:
            phase = d.split(":")[1][:-2].replace("-", "_")
            run.layers[f"checkpoint.{phase}.spark_jobs"] = ev.jobs(d)
            run.layers[f"checkpoint.{phase}.corpus_scans"] = ev.corpus_scans(d, run.inputs.path)
            write_s += ev.write_seconds(d, run.tmp / "out0")
        run.layers["checkpoint.write_s"] = write_s
        run.layers["checkpoint.overhead_s"] = wall - write_s
        run.layers["queries.spark_jobs"] = sum(ev.jobs(f"registry:{q}-0") for q in REGISTRY_SAMPLE)
    else:
        descs = [f"{wl}:pass"]
        wall = run.samples["pass_s"][0]
    run.layers.update(ev.task_metrics(descs, wall, run.args.cores))
    run.layers["pipeline.mega_docs"] = run.inputs.meta.get("mega_docs", 0)


def scaling(run: Run) -> None:
    """pdf-native: the same run at local[1] in its own process, untraced.
    Both sides take one timed pass after the same checked warm-up pass and
    untimed noop pass; efficiency is docs/s at local[N] over N x docs/s at
    local[1]."""
    a = run.args
    cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", "0", "--trace", "0", "--size", a.size,
           "--cores", "1"]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}
    run.check("local1", [] if res.get("correct") else [f"local[1] run failed: {p.stderr[-500:]}"])
    if not res.get("correct"):
        return
    dps1 = res["metrics"]["docs_per_s"]["value"]
    run.layers["pipeline.docs_per_s_local1"] = dps1
    run.layers["pipeline.scaling_eff_1to4"] = run.e2e["docs_per_s"] / (a.cores * dps1)


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


def scratch_dir() -> Path:
    """Per-run scratch inside the checkout; every temp file of the run, the
    JVMs' and the Python workers' included, goes here."""
    import tempfile

    tmp = ROOT / ".perfbench_cache" / "tmp" / str(os.getpid())
    for d in ("spark", "jvm", "py", "warehouse"):
        (tmp / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = str(tmp / "py")
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark")
    # no /tmp/hsperfdata files, also from spark-submit's launcher JVM
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp / 'jvm'}"
    return tmp


def run_workload(args, tmp: Path) -> Run:
    from perfbench import inputs as I
    from perfbench import trace

    t_in = time.monotonic()
    inp = I.load(args.workload, args.seed, args.size)  # outside set-up and timing
    log(f"# inputs {args.workload} seed={args.seed} size={args.size} "
        f"({time.monotonic() - t_in:.1f} s): "
        + json.dumps({k: v for k, v in inp.meta.items() if k != "poison_ids"}))
    run = Run(args, inp, tmp)
    traced = bool(args.trace)
    sp = Spark(tmp, tmp / "events" if traced else None, args.cores)
    try:
        run.e2e["setup_s"] = set_up(sp)
        # a traced run measures one pass; per-layer numbers need no median
        WORKLOADS[args.workload](run, sp, 0.0 if traced else args.seconds)
        if traced and args.workload == "web-skew-resume":
            registry_layers(run, sp.session)
        sp.shutdown()
        batches, mega = trace.corpus_batches(run.inputs.path, I.BATCH_ROWS, run.calls)
        share = sum(map(trace.has_non_ascii_html, batches)) / max(1, len(batches))
        log(f"# inputs: {len(batches)} extraction batches, non_ascii_html_batch_share={share:.4f}")
        if traced:
            replay_layers(run, batches + mega)  # the JVM is gone: no competition
            spark_layers(run, tmp / "events")
            run.check("trace:digest", [] if run.trace_digest == run.spark_digest else
                      [f"traced in-process {run.trace_digest} != spark {run.spark_digest}"])
            if args.workload == "pdf-native":
                scaling(run)
    except Exception as e:  # a run that cannot finish counts as a failed check
        import traceback

        traceback.print_exc()
        run.attempted += 1
        run.failures.append(f"{type(e).__name__}: {e}")
    finally:
        sp.shutdown()
    return run


EXTRA_AS_LAYER = {
    "peak_rss_mb": "pipeline.peak_rss_mb",
    "jvm_rss_mb": "pipeline.jvm_rss_mb",
    "worker_rss_mb": "pipeline.worker_rss_mb",
    "failed_doc_ratio": "extract.failed_doc_ratio",
    "resume_s": "checkpoint.resume_s",
}


def report(run: Run, bench: dict) -> dict:
    """Log every sample and number, and build the result line: end-to-end
    metrics untraced, per-layer metrics traced."""
    for name, xs in run.samples.items():
        q1, med, q3 = quartiles(xs)
        log(f"# {name}: n={len(xs)} median={med:.4f} q1={q1:.4f} q3={q3:.4f}")
    for k, v in run.extra.items():
        log(f"# workload metric {k} = {v:.6g}")
    for m in bench["end_to_end"]:
        if m["name"] not in run.e2e:
            run.failures.append(f"metric {m['name']} not measured")
    if run.args.trace:
        for k, v in run.e2e.items():  # tracing overhead: compare with an untraced run
            log(f"# traced-run {k} = {v:.6g}")
        run.layers.update({EXTRA_AS_LAYER[k]: v for k, v in run.extra.items()})
        metrics = {m["name"]: {"value": float(run.layers.get(m["name"], 0)), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": run.e2e[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"] if m["name"] in run.e2e}
    for n, m in metrics.items():
        log(f"# {n} = {m['value']:.6g} {m['unit']}")
    return {"correct": not run.failures, "attempted": max(1, run.attempted),
            "failed": len(run.failures), "metrics": metrics}


def smoke() -> int:
    """A traced run of every workload at a tiny size: every check of a full
    run, every metric path."""
    ok = True
    for wl in WORKLOADS:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", wl, "--seed", "1",
               "--seconds", "0", "--trace", "1", "--size", "smoke"]
        t0 = time.monotonic()
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        res = json.loads(last) if last.startswith("{") else {}
        good = p.returncode == 0 and res.get("correct") is True
        ok &= good
        print(f"smoke {wl}: {'ok' if good else 'FAILED'} attempted={res.get('attempted')} "
              f"failed={res.get('failed')} ({time.monotonic() - t0:.0f} s)", flush=True)
        if not good:
            print(p.stdout[-3000:], p.stderr[-3000:], sep="\n")
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--cores", type=int, default=CORES,
                    help="task slots, local[N] (a traced pdf-native run sets 1 for its "
                         "scaling baseline)")
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload at a tiny size with all checks")
    args = ap.parse_args(argv)
    if not (ROOT / "pdf_extract_sys_spark" / "__init__.py").is_file() or not (ROOT / "BENCHMARK.json").is_file():
        print("perfbench: run from the root of a pdf_extract_sys_spark checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT)]
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    tmp = scratch_dir()
    try:
        result = report(run_workload(args, tmp), json.loads((ROOT / "BENCHMARK.json").read_text()))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
