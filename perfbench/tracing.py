"""Out-of-program tracing for the traced run.

* ``Tracer`` swaps public module functions of ``sparkdoc`` for wrappers that
  record a span (name, layer, start, end, parent) and tag every Spark job
  started inside it with a job group naming the span's layer path
  (``pass3/checkpoint/spans``). Spark plans are lazy, so a wrapper around a
  function that only *builds* a DataFrame persists and counts what it
  returns inside its span: that puts the layer's execution in the layer's
  span instead of in whichever caller runs the first action. The extra
  actions and caching are part of the tracing overhead the run reports.
* ``read_event_log`` turns the Spark event log into per-stage records
  (job group, submission time, task run times, shuffle, spill, GC,
  failures) so executor-side cost can be attributed to spans by job group.
* ``kernel_timings`` times the per-document Python kernels on the driver
  over a fixed seeded sample.
"""

from __future__ import annotations

import importlib
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

#: (module, function, materialize). materialize=False for orchestrators
#: whose own body runs the Spark actions (their children are wrapped).
WRAPPED = (
    ("ingest", "mixed_to_documents", True),
    ("spans", "extract_documents", True),
    ("chunker", "chunk_documents", True),
    ("checkpoint", "run_resumable", False),
    ("checkpoint", "commit_bucket_group", False),
    ("extractor", "convert_document_graph", False),
    ("extractor", "skeleton_phase", True),
    ("extractor", "coverage_pass", True),
    ("extractor", "build_catalog_edges", True),
    ("fill", "fill_phase", True),
    ("salvage", "salvage_entities", True),
    ("rootid", "rescue_invalid_roots", True),
    ("dedup", "containment_alias_groups", True),
    ("dedup", "co_occurrence_veto", True),
    ("dedup", "apply_alias_merges", True),
    ("dedup", "enforce_cardinality_bounds", True),
    ("merge", "enforce_closed_catalogs", True),
    ("graph", "entities_to_nodes", True),
    ("graph", "clean_edges", True),
    ("provenance", "build_ledger", True),
    ("provenance", "coverage_stats", True),
)

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str  # module.function
    layer: str  # module
    parent: "Span | None"
    start: float
    end: float = 0.0
    path: str = ""  # job-group path: pass<k>/<layer>/<layer>...
    children: list = field(default_factory=list)


class Tracer:
    """Span recorder + job-group tagger. Spans live in memory until the run
    ends. A span opened on a thread with no open span (the prefetch thread
    inside checkpoint.run_resumable) is parented to the innermost span open
    on the main thread, so the layer path still reads pass/checkpoint/..."""

    def __init__(self, sc):
        self._sc = sc
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._originals: list[tuple[object, str, object]] = []
        self._persisted: list = []
        self.spans: list[Span] = []

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, layer: str, path: str | None = None) -> tuple[Span, object]:
        """Start a span; ``path`` overrides the job-group path (pass roots)."""
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        sp = Span(name, layer, parent, time.time())
        sp.path = path or (f"{parent.path}/{layer}" if parent else layer)
        if parent:
            parent.children.append(sp)
        stack.append(sp)
        self.spans.append(sp)
        prev = self._sc.getLocalProperty(JOB_GROUP)
        self._sc.setLocalProperty(JOB_GROUP, sp.path)
        return sp, prev

    def close(self, sp: Span, prev) -> None:
        sp.end = time.time()
        self._stack().remove(sp)
        self._sc.setLocalProperty(JOB_GROUP, prev)

    def _materialize(self, out) -> None:
        from pyspark.sql import DataFrame

        if isinstance(out, DataFrame):
            out.persist()
            out.count()
            self._persisted.append(out)
        elif isinstance(out, (tuple, list)):
            for o in out:
                self._materialize(o)

    def install(self) -> None:
        for mod_name, fn_name, materialize in WRAPPED:
            mod = importlib.import_module(f"sparkdoc.{mod_name}")
            fn = getattr(mod, fn_name)
            self._originals.append((mod, fn_name, fn))
            setattr(mod, fn_name, self._wrapper(fn, mod_name, materialize))

    def uninstall(self) -> None:
        for mod, name, fn in reversed(self._originals):
            setattr(mod, name, fn)
        self._originals.clear()

    def release(self) -> None:
        """Drop the caches the wrappers created (call after each pass)."""
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def _wrapper(self, fn, layer: str, materialize: bool):
        tracer = self

        def wrapped(*args, **kwargs):
            sp, prev = tracer.open(f"{layer}.{fn.__name__}", layer)
            try:
                out = fn(*args, **kwargs)
                if materialize:
                    tracer._materialize(out)
                return out
            finally:
                tracer.close(sp, prev)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        return wrapped


# --- interval arithmetic over spans ----------------------------------------


def union(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for lo, hi in sorted(intervals):
        if out and lo <= out[-1][1]:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return [(a, b) for a, b in out]


def measure(intervals) -> float:
    return sum(b - a for a, b in union(intervals))


def subtract(a, b) -> float:
    """Length of union(a) not covered by union(b)."""
    total = measure(a)
    covered = 0.0
    ua, ub = union(a), union(b)
    for lo, hi in ua:
        for blo, bhi in ub:
            covered += max(0.0, min(hi, bhi) - max(lo, blo))
    return total - covered


def descendants_outside(sp: Span, layer: str):
    """Spans below ``sp`` whose layer differs, stopping at each such span."""
    for c in sp.children:
        if c.layer != layer:
            yield c
        else:
            yield from descendants_outside(c, layer)


# --- Spark event log ---------------------------------------------------------


@dataclass
class StageRec:
    stage_id: int
    group: str | None
    submit_ms: int
    run_ms: list = field(default_factory=list)
    gc_ms: int = 0
    shuffle_write: int = 0
    shuffle_read_records: int = 0
    spill_bytes: int = 0
    failed: int = 0


@dataclass
class EventLog:
    stages: dict  # (stage_id, attempt) -> StageRec
    jobs: list  # (job_id, group, submit_ms)


def read_event_log(log_dir: str) -> EventLog:
    files = sorted(os.listdir(log_dir))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stages: dict = {}
    jobs: list = []
    with open(os.path.join(log_dir, files[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs.append((ev["Job ID"], props.get(JOB_GROUP), ev["Submission Time"]))
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                props = ev.get("Properties") or {}
                key = (info["Stage ID"], info["Stage Attempt ID"])
                stages[key] = StageRec(
                    info["Stage ID"], props.get(JOB_GROUP), info.get("Submission Time") or 0
                )
            elif kind == "SparkListenerTaskEnd":
                rec = stages.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                if rec is None:
                    continue
                info = ev["Task Info"]
                if info.get("Failed") or info.get("Killed") or (
                    ev.get("Task End Reason", {}).get("Reason") != "Success"
                ):
                    rec.failed += 1
                m = ev.get("Task Metrics") or {}
                rec.run_ms.append(m.get("Executor Run Time", 0))
                rec.gc_ms += m.get("JVM GC Time", 0)
                rec.spill_bytes += m.get("Disk Bytes Spilled", 0)
                rec.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                rec.shuffle_read_records += (m.get("Shuffle Read Metrics") or {}).get("Total Records Read", 0)
    return EventLog(stages, jobs)


def task_skew(stages) -> float:
    """Straggler ratio of the heaviest shuffle-reading stage: max task run
    time over median task run time (median floored at 1 ms)."""
    cands = [s for s in stages if s.shuffle_read_records > 0 and len(s.run_ms) >= 2]
    if not cands:
        return 0.0
    heavy = max(cands, key=lambda s: sum(s.run_ms))
    return max(heavy.run_ms) / max(statistics.median(heavy.run_ms), 1.0)


# --- driver-side kernel timings ----------------------------------------------

INGEST_FORMATS = ("pdf", "docx", "xlsx", "pptx", "html", "markdown", "csv", "doclang")


def _best_of(fn, reps: int = 3) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def kernel_timings(seed: int, docs_per_format: int = 8, layout_docs: int = 48) -> dict[str, float]:
    """Microseconds per call of the per-document kernels over a fixed sample
    made from ``seed``: ingest.mixed_spans_doc per format, layout.xy_cut_order
    per page, chunker.chunk_spans per document (best of three)."""
    from sparkdoc.chunker import chunk_spans
    from sparkdoc.golden import extract_corpus_golden
    from sparkdoc.ingest import mixed_spans_doc
    from sparkdoc.layout import xy_cut_order
    from sparkdoc.synth import _MIXED_FORMATS, synth_corpus, synth_mixed_doc

    out: dict[str, float] = {}
    n_fmt = len(_MIXED_FORMATS)
    for fmt in INGEST_FORMATS:
        k = _MIXED_FORMATS.index(fmt)
        blobs = [synth_mixed_doc(k + n_fmt * j, seed) for j in range(docs_per_format)]
        t = _best_of(lambda: [mixed_spans_doc(b["doc_id"], b["blob"]) for b in blobs])
        out[f"ingest.parse_us.{fmt}"] = t / len(blobs) * 1e6

    nodes = synth_corpus(layout_docs, seed)
    pages: dict[tuple, list] = {}
    for n in nodes:
        if n["bbox"] is None or (n["coord_origin"] == "BOTTOMLEFT" and n["page_height"] is None):
            continue
        l, t_, r, b = n["bbox"]
        if n["coord_origin"] == "BOTTOMLEFT":
            t_, b = int(n["page_height"] - t_), int(n["page_height"] - b)
        pages.setdefault((n["doc_id"], n["page_no"]), []).append((l, t_, r, b))
    boxes = list(pages.values())
    t = _best_of(lambda: [xy_cut_order(bx) for bx in boxes])
    out["layout.xy_cut_us_per_page"] = t / len(boxes) * 1e6

    docs = list(extract_corpus_golden(nodes).values())
    t = _best_of(lambda: [chunk_spans(list(s)) for s in docs])
    out["chunker.us_per_doc"] = t / len(docs) * 1e6
    return out
