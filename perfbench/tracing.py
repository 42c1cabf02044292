"""Traced-run mode: spans around each layer's public callables, wrapped
from the benchmark's own files (no package code is touched).

A span records wall time (epoch seconds) and its parent. After an op the
runner hands over the op's finished Spark jobs; each job is charged to
the innermost span open at its submission time. The loop is closed, so
on the calling thread and on the streaming thread alike no two ops
overlap and the submission window identifies the span. Lazy builders
(``RecordFrame.from_raw``, ``compute_changes``, ``Mapper.apply``, ...)
therefore get planning time only; their execution is charged to the
span whose action runs it, and the plan-node split below recovers the
per-layer share of that execution from SQL metrics.

Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import inspect
import json
import re
import sys
import threading
import time
from collections import defaultdict

import measure

PKG = "wwwision_importservice_spark"

# layer callables: (module, attribute path, span name)
LAYER_CALLABLES = [
    ("sources.file", "FileSource.load", "sources.load"),
    ("record", "RecordFrame.from_raw", "record.from_raw"),
    ("mapping", "Mapper.apply", "mapping.apply"),
    ("functions.eel", "translate_eel", "mapping.translate_eel"),
    ("operators.diff", "compute_changes", "diff.compute_changes"),
    ("plans.pipeline", "ImportPipeline.run", "pipeline.run"),
    ("plans.pipeline", "ImportPipeline.compute_changes", "pipeline.compute_changes"),
    ("sinks.parquet", "ParquetTarget.current_state", "sinks.current_state"),
    ("sinks.parquet", "ParquetTarget.apply", "sinks.apply"),
    ("sinks.parquet", "ParquetTarget.finalize", "sinks.finalize"),
    ("operators.dedup", "minhash_signatures_inline", "dedup.minhash_signatures_inline"),
    ("operators.dedup", "lsh_index", "dedup.lsh_index"),
    ("operators.dedup", "incremental_pairs_from_buckets", "dedup.incremental_pairs_from_buckets"),
    ("operators.dedup", "compact_index", "dedup.compact_index"),
    ("operators.multimodal", "media_metadata", "multimodal.media_metadata"),
]
FSUTIL_FUNCS = [
    "list_data_files", "list_child_dirs", "replace_dir", "recover_dir", "path_exists",
    "success_marker_token", "delete_dir", "write_text_file", "read_text_file",
    "claim_writer", "release_writer",
]
# spans that write: their bytes/files written are measured
WRITING_SPANS = {"sinks.apply", "dedup.compact_index", "neardup.gate"}
SPAN_COUNTERS = ("jobs", *measure.STAGE_COUNTERS)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self.op: int | None = None
        self.storage_dirs: list[str] = []
        self._stack: list[dict] = []
        self._lock = threading.Lock()

    # -- spans ----------------------------------------------------------- #
    def _open(self, name: str) -> dict:
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            sp = {
                "name": name, "op": self.op, "id": len(self.spans),
                "parent": parent["id"] if parent else None,
                "depth": len(self._stack), "t0": time.time(), "t1": None,
            }
            self.spans.append(sp)
            self._stack.append(sp)
        if name in WRITING_SPANS:
            sp["_snap"] = measure.snapshot(self.storage_dirs)
        return sp

    def _close(self, sp: dict) -> None:
        sp["t1"] = time.time()
        if "_snap" in sp:
            sp["bytes_written"], sp["files_written"] = measure.written(
                sp.pop("_snap"), measure.snapshot(self.storage_dirs)
            )
        with self._lock:
            self._stack.remove(sp)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            sp = self._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(sp)

        return traced

    # -- installation ---------------------------------------------------- #
    def install(self) -> None:
        """Wrap every layer callable, everywhere it is bound (modules that
        imported it by name included)."""
        import importlib

        for mod_name, path, span in LAYER_CALLABLES:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            if "." in path:
                cls_name, attr = path.split(".")
                cls = getattr(mod, cls_name)
                static = inspect.getattr_static(cls, attr)
                if isinstance(static, classmethod):
                    setattr(cls, attr, classmethod(self.wrap(static.__func__, span)))
                else:
                    setattr(cls, attr, self.wrap(getattr(cls, attr), span))
            else:
                self._rebind(getattr(mod, path), self.wrap(getattr(mod, path), span))
        from wwwision_importservice_spark import fsutil
        from wwwision_importservice_spark.streaming import neardup

        for f in FSUTIL_FUNCS:
            orig = getattr(fsutil, f)
            self._rebind(orig, self.wrap(orig, f"fsutil.{f}"))
        # the gate's per-batch processor is a closure: wrap what the
        # builder returns
        build = neardup.near_dup_gate

        @functools.wraps(build)
        def near_dup_gate(*args, **kwargs):
            return self.wrap(build(*args, **kwargs), "neardup.gate")

        neardup.near_dup_gate = near_dup_gate

    @staticmethod
    def _rebind(orig, new) -> None:
        for name, mod in list(sys.modules.items()):
            if mod is None or not name.startswith(PKG):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, new)

    # -- per-op accounting ----------------------------------------------- #
    def op_spans(self, op: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op and s["t1"] is not None]

    def attribute(self, op: int, jobs: list[dict], t0: float, t1: float) -> dict[str, float]:
        """Per span name: calls, wall_s, self_s (inclusive counters from
        the jobs submitted inside it), plus ``unattributed.self_s`` =
        op wall minus the top-level spans, so self times sum to the op's
        wall time."""
        spans = self.op_spans(op)
        by_id = {s["id"]: s for s in spans}
        for s in spans:
            s["t0c"], s["t1c"] = max(s["t0"], t0), min(s["t1"], t1)
            s["dur"] = max(0.0, s["t1c"] - s["t0c"])
            s["child_s"] = 0.0
        for s in spans:
            if s["parent"] in by_id:
                by_id[s["parent"]]["child_s"] += s["dur"]
            s["jobs"] = []
        for j in jobs:
            if j["start"] is None:
                continue
            inside = [s for s in spans if s["t0"] <= j["start"] <= s["t1"]]
            if not inside:
                continue
            # charge the innermost span and, inclusively, its ancestors
            s = max(inside, key=lambda s: s["depth"])
            while s is not None:
                s["jobs"].append(j)
                s = by_id.get(s["parent"])
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            n = s["name"]
            c = measure.sum_jobs(s.pop("jobs"))
            out[f"{n}.calls"] += 1
            out[f"{n}.wall_s"] += s["dur"]
            out[f"{n}.self_s"] += s["dur"] - s["child_s"]
            for k in SPAN_COUNTERS:
                out[f"{n}.{k}"] += c[k]
            if "bytes_written" in s:
                out[f"{n}.bytes_written"] += s["bytes_written"]
                out[f"{n}.files_written"] += s["files_written"]
        top = sum(s["dur"] for s in spans if s["parent"] not in by_id)
        out["unattributed.self_s"] = (t1 - t0) - top
        return dict(out)

    def dump(self, path: str) -> None:
        keep = ("name", "op", "id", "parent", "depth", "t0", "t1", "bytes_written", "files_written")
        with open(path, "w") as fh:
            json.dump([{k: s[k] for k in keep if k in s} for s in self.spans], fh)


# --------------------------------------------------------------------------- #
# SQL plan-node split
# --------------------------------------------------------------------------- #
_SIZE = re.compile(r"(\d+(?:\.\d+)?)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_PASS_THROUGH = ("Sort", "AQEShuffleRead", "ShuffleQueryStage", "WindowGroupLimit",
                 "Project", "Filter", "WholeStageCodegen", "InputAdapter", "Exchange")
MEDIA_NODES = ("MapInPandas", "PythonMapInArrow", "MapInArrow")


def parse_size(text: str) -> float:
    """First size in a formatted SQL metric value ("total (min, med,
    max ...)\\n1.2 MiB (...)" or "1.2 MiB"). Spark renders one decimal,
    so values carry about three significant digits."""
    m = _SIZE.search(text or "")
    return float(m.group(1)) * _UNIT[m.group(2)] if m else 0.0


class SqlSplit:
    """Splits an op's execution across layers by SQL plan nodes:

    - ``record.exchange_bytes``: shuffle bytes of exchanges feeding the
      K1 last-wins ``Window``;
    - ``diff.exchange_bytes``: shuffle bytes of exchanges feeding a
      ``FullOuter`` join (the diff kernel);
    - ``sources.scan_bytes``: bytes read by scans of the source path;
    - ``media_jobs``: jobs whose plan runs the media Arrow pass."""

    def __init__(self, spark) -> None:
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self.seen = int(self._store.executionsCount())

    def _list(self, seq):
        return list(self._conv.asJava(seq))

    def collect(self, source_path: str | None, parse: bool = True) -> dict:
        """Split the SQL executions that finished since the last call;
        ``parse=False`` only skips past them."""
        out = {"record.exchange_bytes": 0.0, "diff.exchange_bytes": 0.0,
               "sources.scan_bytes": 0.0, "media_jobs": set()}
        n = int(self._store.executionsCount())
        new = n > self.seen and parse
        execs = self._list(self._store.executionsList(self.seen, n - self.seen)) if new else []
        self.seen = n
        for ex in execs:
            eid = ex.executionId()
            graph = self._store.planGraph(eid)
            values = dict(self._conv.asJava(self._store.executionMetrics(eid)))
            nodes = {nd.id(): nd for nd in self._list(graph.allNodes())}
            parent = {e.fromId(): e.toId() for e in self._list(graph.edges())}
            names = {i: nd.name() for i, nd in nodes.items()}
            if any(nm in MEDIA_NODES for nm in names.values()):
                out["media_jobs"].update(int(j) for j in self._conv.asJava(ex.jobs()).keySet())
            for i, nd in nodes.items():
                nm = names[i]
                if nm == "Exchange":
                    layer = self._consumer_layer(i, nodes, parent)
                    if layer:
                        out[layer] += self._metric(nd, "shuffle bytes written", values)
                elif nm.startswith("Scan") and source_path and source_path in nd.desc():
                    out["sources.scan_bytes"] += self._metric(nd, "size of files read", values)
        return out

    def _metric(self, node, name: str, values: dict) -> float:
        for m in self._list(node.metrics()):
            if m.name() == name:
                return parse_size(values.get(m.accumulatorId(), ""))
        return 0.0

    @staticmethod
    def _consumer_layer(i: int, nodes: dict, parent: dict) -> str | None:
        cur = parent.get(i)
        for _ in range(8):
            if cur is None or cur not in nodes:
                return None
            nm = nodes[cur].name()
            if nm == "Window":
                return "record.exchange_bytes"
            if nm.endswith("Join"):
                return "diff.exchange_bytes" if "FullOuter" in nodes[cur].desc() else None
            if not nm.startswith(_PASS_THROUGH):
                return None
            cur = parent.get(cur)
        return None
