"""Measurement helpers for the benchmark.

* ``CallTimer``: driver-side timing of calls into the package's
  functions, patched in from here (the package itself is not edited).
* ``KernelProbe``: busy time and call counts of the kernel sub-layers
  that ``kernels.extractor.extract_document`` calls through its module
  globals (HTML main content, text normalization, word count, quality).
* ``read_event_log``: Spark-side jobs, stages, task durations and shuffle
  volume per benchmark label, from the event log of a traced session.
* ``RssSampler``: peak resident memory of this process and every
  descendant (JVM, Python daemon and workers), read from ``/proc``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import threading
import time
from collections import defaultdict

#: Spark local property carrying the benchmark label of every job it starts.
LABEL_PROPERTY = "perfbench.layer"


@contextlib.contextmanager
def spark_label(spark, label: str):
    """Tag every Spark job started inside the block with ``label``."""
    sc = spark.sparkContext
    sc.setLocalProperty(LABEL_PROPERTY, label)
    try:
        yield
    finally:
        sc.setLocalProperty(LABEL_PROPERTY, None)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty list."""
    ordered = sorted(values)
    k = max(0, min(len(ordered) - 1, round(q / 100 * (len(ordered) - 1))))
    return ordered[k]


class CallTimer:
    """Seconds, calls and a work tally per name, for calls into functions
    replaced by timing wrappers for the length of a ``patched`` block."""

    def __init__(self) -> None:
        self.s: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.tally: dict[str, int] = defaultdict(int)

    @contextlib.contextmanager
    def patched(self, *targets):
        """``targets`` are ``(owner, attribute, name[, tally])`` tuples;
        ``tally(args)`` gives a call's work count."""
        saved = []
        try:
            for owner, attr, name, *tally in targets:
                orig = getattr(owner, attr)
                saved.append((owner, attr, orig))
                setattr(owner, attr, self._wrap(orig, name, *tally))
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def _wrap(self, orig, name: str, tally=None):
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                self.s[name] += time.perf_counter() - t0
                self.calls[name] += 1
                if tally is not None:
                    self.tally[name] += tally(args)

        return wrapper


class KernelProbe:
    """Counting wrappers around the callees of ``extract_document``.

    Only the extractor module's references are patched, so a sub-layer's
    internal calls are not counted twice. Use as a context manager."""

    LAYER_OF = {
        "extract_main_content": "htmlmain",
        "plain_text_read": "textnorm",
        "repair_hyphenation": "textnorm",
        "clean_extracted_text": "textnorm",
        "count_words_safely_office": "wordcount",
        "_passes_span_gate": "quality",
        "validate_ocr_quality": "quality",
        "classify_ocr_error": "quality",
    }

    def __init__(self) -> None:
        self.busy_s: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.html_bytes_in = 0
        self.html_items_out = 0
        self.gated = 0
        self.kept = 0
        self._saved: dict[str, object] = {}

    def _wrap(self, fn_name: str, fn):
        layer = self.LAYER_OF[fn_name]
        clock = time.perf_counter

        def wrapper(*args, **kwargs):
            t0 = clock()
            out = fn(*args, **kwargs)
            self.busy_s[layer] += clock() - t0
            self.calls[layer] += 1
            if fn_name == "extract_main_content":
                self.html_bytes_in += len(args[0].encode("utf-8", "surrogatepass"))
                self.html_items_out += len(out)
            elif fn_name == "_passes_span_gate":
                self.gated += 1
                self.kept += bool(out)
            return out

        return wrapper

    def __enter__(self):
        from readur_spark.kernels import extractor

        for name in self.LAYER_OF:
            self._saved[name] = getattr(extractor, name)
            setattr(extractor, name, self._wrap(name, self._saved[name]))
        return self

    def __exit__(self, *exc) -> None:
        from readur_spark.kernels import extractor

        for name, fn in self._saved.items():
            setattr(extractor, name, fn)
        self._saved.clear()


def read_event_log(events_dir: str) -> dict[str | None, dict]:
    """Per-label Spark counters from the event log(s) under ``events_dir``:
    jobs, completed stages, task durations (s) per stage, shuffle bytes and
    records written. Jobs started outside any label are keyed ``None``."""
    stage_label: dict[int, str | None] = {}
    out: dict[str | None, dict] = defaultdict(
        lambda: {
            "jobs": 0,
            "stages": set(),
            "task_s": defaultdict(list),
            "shuffle_bytes": 0,
            "shuffle_records": 0,
        }
    )
    for fname in sorted(os.listdir(events_dir)):
        with open(os.path.join(events_dir, fname)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    label = (ev.get("Properties") or {}).get(LABEL_PROPERTY)
                    out[label]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_label.setdefault(sid, label)
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    out[stage_label.get(sid)]["stages"].add(sid)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    rec = out[stage_label.get(sid)]
                    info = ev["Task Info"]
                    rec["task_s"][sid].append(
                        (info["Finish Time"] - info["Launch Time"]) / 1000.0
                    )
                    sw = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
                    rec["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    rec["shuffle_records"] += sw.get("Shuffle Records Written", 0)
    return out


def spark_counters(log: dict, labels: list[str]) -> dict:
    """Sum the event-log counters of ``labels`` into one record."""
    task_s = [t for lb in labels for ts in log[lb]["task_s"].values() for t in ts]
    return {
        "jobs": sum(log[lb]["jobs"] for lb in labels),
        "stages": sum(len(log[lb]["stages"]) for lb in labels),
        "tasks": len(task_s),
        "task_s": task_s,
        "shuffle_bytes": sum(log[lb]["shuffle_bytes"] for lb in labels),
        "shuffle_records": sum(log[lb]["shuffle_records"] for lb in labels),
        "per_stage_task_s": {
            f"{lb}/{sid}": [round(t, 3) for t in ts]
            for lb in labels
            for sid, ts in sorted(log[lb]["task_s"].items())
        },
    }


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all of its descendants, as the sum
    of their proportional set sizes: forked Python workers share pages with
    their daemon, and summing plain RSS would count those pages once per
    worker."""
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children[ppid].append(int(entry))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Background sampler of this process tree's peak resident memory."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(os.getpid()))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def quartiles(values: list[float]) -> dict:
    """Median, quartiles and count, as ``statistics.quantiles(n=4)`` gives them."""
    if len(values) == 1:
        q1 = med = q3 = values[0]
    else:
        q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "n": len(values)}
