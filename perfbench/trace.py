"""Per-layer tracing from outside the program.

Two sources:

* ``replay`` feeds the workload's Arrow batches through
  ``extract.extract_map_in_arrow`` in this process, with timing wrappers put
  on the module attributes each layer is called through. A wrapper records
  the call's duration and the part of it its child spans cover, so every
  layer reports self time, and the replay wall minus all self times is the
  time no layer span covers.
* ``EventLog`` reads the Spark event log of the measured actions: task
  metrics, SQL scan metrics and job descriptions (``<workload>:<phase>``).
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

import numpy as np

# (module, attribute) -> span name
SPANS = {
    ("extract", "_record_batch_to_rows"): "extract.arrow_to_rows",
    ("extract", "extract_docs_safe"): "extract.safe",
    ("extract", "extract_docs"): "extract.glue",
    ("extract", "_rows_to_record_batch"): "extract.rows_to_arrow",
    ("pdf_text", "decode_pdf_core"): "pdf_text.decode",
    ("pdf_text", "page_stripped_lengths_core"): "pdf_text.classify",
    ("pdf_text", "segment_sentences_core"): "pdf_text.segment",
    ("ocr", "decode_ocr_core"): "ocr.decode",
    ("ocr", "group_ocr_lines_core"): "ocr.group",
    ("html", "_extract_html_spans_arrow"): "html.arrow",
    ("html", "_extract_html_spans_pandas"): "html.pandas",
}


class Tracer:
    """Span stack with per-name self times and counts. Inside the per-doc
    fallback only the fallback itself is timed: its re-runs are charged to
    ``extract.fallback``."""

    def __init__(self) -> None:
        self.self_s = defaultdict(float)
        self.counts = defaultdict(int)
        self.stack: list[list] = []  # [name, child_seconds]
        self.safe_first: list[bool] = []  # per open extract_docs_safe: first attempt pending
        self.in_fallback = False
        self.fallback_t0 = 0.0

    def wrap(self, name: str, fn):
        def traced(*args, **kw):
            if self.in_fallback:
                if name == "extract.glue":
                    try:
                        return fn(*args, **kw)
                    except Exception:
                        self.counts["extract.poison_isolated"] += 1
                        raise
                return fn(*args, **kw)
            first_attempt = name == "extract.glue" and self.safe_first and self.safe_first[-1]
            if name == "extract.safe":
                self.safe_first.append(True)
            self.stack.append([name, 0.0])
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kw)
            except Exception:
                if first_attempt:  # the batch now goes doc by doc
                    self.counts["extract.fallback_calls"] += 1
                    self.in_fallback = True
                    self.fallback_t0 = time.perf_counter()
                raise
            finally:
                dt = time.perf_counter() - t0
                _, child = self.stack.pop()
                self.self_s[name] += dt - child
                if self.stack:
                    self.stack[-1][1] += dt
                if first_attempt:
                    self.safe_first[-1] = False
                if name == "extract.safe":
                    self.safe_first.pop()
                    if self.in_fallback:
                        fb = time.perf_counter() - self.fallback_t0
                        self.self_s["extract.fallback"] += fb
                        self.self_s["extract.safe"] -= fb
                        self.in_fallback = False
            self._count(name, args, out)
            return out

        return traced

    def _count(self, name: str, args, out) -> None:
        c = self.counts
        if name == "extract.arrow_to_rows":
            c["extract.batches"] += 1
            c["extract.docs"] += len(out[0])
        elif name == "extract.rows_to_arrow":
            c["extract.spans_out"] += len(out.column("spans").flatten())
        elif name == "pdf_text.decode":
            c["pdf_text.chars"] += len(out[0])
        elif name == "pdf_text.segment":
            c["pdf_text.sentences"] += len(out)
        elif name == "ocr.decode":
            c["ocr.words"] += len(out[0])
        elif name == "ocr.group":
            c["ocr.lines"] += len(out)
        elif name == "html.arrow":
            c["html.arrow_payloads"] += len(args[0])
        elif name == "html.pandas":
            c["html.pandas_payloads"] += len(args[0])


@contextmanager
def wrapped(tracer: Tracer):
    from pdf_extract_sys_spark import extract
    from pdf_extract_sys_spark.kernels import html, ocr, pdf_text

    mods = {"extract": extract, "pdf_text": pdf_text, "ocr": ocr, "html": html}
    saved = []
    for (mod, attr), name in SPANS.items():
        fn = getattr(mods[mod], attr)
        saved.append((mods[mod], attr, fn))
        setattr(mods[mod], attr, tracer.wrap(name, fn))
    try:
        yield
    finally:
        for m, attr, fn in saved:
            setattr(m, attr, fn)


def corpus_batches(corpus_dir: Path, batch_rows: int,
                   calls: list[set[str]] | None = None) -> tuple[list, list]:
    """The corpus as the measured action's scans feed ``extract_map_in_arrow``:
    for each call (the doc ids it processes; one call over every doc by
    default), per input file, the call's docs at or under the salting
    threshold, in batches of ``batch_rows``. Returns (those batches, the mega
    docs whole in one batch list: the unsalted reference of the salted path)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from pdf_extract_sys_spark.pipeline import DEFAULT_SALT_THRESHOLD

    files = [pq.read_table(f, columns=["doc_id", "spans", "n_spans"])
             for f in sorted(corpus_dir.glob("part-*.parquet"))]
    normal = []
    for ids in calls or [None]:
        for t in files:
            keep = pc.less_equal(t["n_spans"], DEFAULT_SALT_THRESHOLD)
            if ids is not None:
                keep = pc.and_(keep, pc.is_in(t["doc_id"], pa.array(sorted(ids))))
            normal += (t.filter(keep).select(["doc_id", "spans"]).combine_chunks()
                       .to_batches(max_chunksize=batch_rows))
    mega = pa.concat_tables(t.filter(pc.greater(t["n_spans"], DEFAULT_SALT_THRESHOLD))
                            .select(["doc_id", "spans"]) for t in files)
    return normal, mega.combine_chunks().to_batches()


def has_non_ascii_html(batch) -> bool:
    """Whether the HTML kernel's per-batch ASCII check sends this batch down
    the pandas chain."""
    import pyarrow.compute as pc

    spans = batch.column("spans").flatten()
    hit = pc.and_(pc.equal(spans.field("kind"), "html"),
                  pc.invert(pc.string_is_ascii(spans.field("text"))))
    return bool(pc.any(hit).as_py())


def replay(batches: list, tracer: Tracer | None = None):
    """Run every batch through extract_map_in_arrow in this process.
    Returns (output table, wall seconds)."""
    import pyarrow as pa

    from pdf_extract_sys_spark import extract

    outs = []
    t0 = time.perf_counter()
    if tracer is None:
        outs = list(extract.extract_map_in_arrow(iter(batches)))
    else:
        with wrapped(tracer):
            outs = list(extract.extract_map_in_arrow(iter(batches)))
    wall = time.perf_counter() - t0
    return pa.Table.from_batches(outs), wall


def layer_metrics(tr: Tracer, wall: float) -> dict:
    s, c = tr.self_s, tr.counts
    m = {
        "extract.arrow_to_rows_s": s["extract.arrow_to_rows"],
        "extract.glue_s": s["extract.glue"] + s["extract.safe"],
        "extract.rows_to_arrow_s": s["extract.rows_to_arrow"],
        "extract.batches": c["extract.batches"],
        "extract.docs": c["extract.docs"],
        "extract.spans_out": c["extract.spans_out"],
        "extract.fallback_s": s["extract.fallback"],
        "extract.fallback_calls": c["extract.fallback_calls"],
        "extract.fallback_yield": c["extract.poison_isolated"] / max(1, c["extract.fallback_calls"]),
        "pdf_text.decode_s": s["pdf_text.decode"],
        "pdf_text.classify_s": s["pdf_text.classify"],
        "pdf_text.segment_s": s["pdf_text.segment"],
        "pdf_text.chars": c["pdf_text.chars"],
        "pdf_text.sentences": c["pdf_text.sentences"],
        "ocr.decode_s": s["ocr.decode"],
        "ocr.group_s": s["ocr.group"],
        "ocr.words": c["ocr.words"],
        "ocr.lines": c["ocr.lines"],
        "html.arrow_s": s["html.arrow"],
        "html.pandas_s": s["html.pandas"],
        "html.arrow_payloads": c["html.arrow_payloads"],
        "html.pandas_payloads": c["html.pandas_payloads"],
    }
    m["trace.replay_s"] = wall
    m["trace.uncovered_s"] = wall - sum(s.values())
    return m


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: Path) -> list[dict]:
    """Every event of every application logged under ``log_dir``."""
    events = []
    for f in sorted(p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith(".")):
        with open(f) as fh:
            events += [json.loads(line) for line in fh if line.strip()]
    return events


class EventLog:
    """Jobs, tasks and SQL executions of one application, keyed by the job
    description the benchmark set before each measured call."""

    def __init__(self, events: list[dict]) -> None:
        self.job_desc: dict[int, str] = {}
        stage_job: dict[int, int] = {}
        self.tasks: dict[str, list[dict]] = defaultdict(list)
        self.sql: dict[int, dict] = {}
        for e in events:
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                jid = e["Job ID"]
                self.job_desc[jid] = (e.get("Properties") or {}).get("spark.job.description", "")
                for sid in e["Stage IDs"]:
                    stage_job[sid] = jid
            elif ev == "SparkListenerTaskEnd":
                jid = stage_job.get(e["Stage ID"])
                if jid is not None:
                    self.tasks[self.job_desc[jid]].append(e)
            elif ev.endswith("SparkListenerSQLExecutionStart"):
                self.sql[e["executionId"]] = {"desc": e.get("description", ""),
                                              "plan": e.get("physicalPlanDescription", ""),
                                              "start": e["time"], "end": e["time"]}
            elif ev.endswith("SparkListenerSQLExecutionEnd"):
                if e["executionId"] in self.sql:
                    self.sql[e["executionId"]]["end"] = e["time"]

    def jobs(self, desc: str) -> int:
        return sum(1 for d in self.job_desc.values() if d == desc)

    def corpus_scans(self, desc: str, corpus_dir: Path) -> int:
        """Scan nodes over the corpus in the plans of this phase: each has one
        ``Location:`` line in the formatted plan."""
        name = corpus_dir.resolve().as_posix()
        return sum(1 for s in self.sql.values() if s["desc"] == desc
                   for line in s["plan"].splitlines()
                   if line.lstrip().startswith("Location:") and name in line)

    def write_seconds(self, desc: str, out_dir: Path) -> float:
        """Wall of this phase's SQL executions that write into ``out_dir``."""
        name = out_dir.resolve().as_posix()
        return sum((s["end"] - s["start"]) / 1000.0 for s in self.sql.values()
                   if s["desc"] == desc and "InsertIntoHadoopFsRelationCommand" in s["plan"]
                   and name in s["plan"])

    def task_metrics(self, descs: list[str], wall: float, cores: int) -> dict:
        """Task-level pipeline metrics over the jobs of these phases."""
        tasks = [t for d in descs for t in self.tasks.get(d, [])]
        run = np.array([t["Task Metrics"]["Executor Run Time"] / 1000.0 for t in tasks] or [0.0])
        tm = [t["Task Metrics"] for t in tasks]

        def acc(name: str) -> float:
            return sum(float(a.get("Update", 0)) for t in tasks
                       for a in t["Task Info"].get("Accumulables", []) if a.get("Name") == name)

        return {
            "pipeline.scan_s": acc("scan time") / 1000.0,
            "pipeline.scan_bytes": sum(m["Input Metrics"]["Bytes Read"] for m in tm),
            "pipeline.tasks": len(tasks),
            "pipeline.task_run_s": float(run.sum()),
            "pipeline.task_cpu_s": sum(m["Executor CPU Time"] for m in tm) / 1e9,
            "pipeline.gc_s": sum(m["JVM GC Time"] for m in tm) / 1000.0,
            "pipeline.task_p50_s": float(np.median(run)),
            "pipeline.task_max_s": float(run.max()),
            "pipeline.slot_busy_ratio": float(run.sum()) / (wall * cores) if wall else 0.0,
            "pipeline.mega_shuffle_bytes": sum(m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                                               for m in tm),
        }
