"""Per-layer figures, taken from outside the program.

Spark work is attributed by the job group the benchmark sets around each
public call (:meth:`Tracer.layer`); stage figures are read back from the
context's status store. Job call sites cannot be used for this: adaptive
query execution reports its jobs at ``CompletableFuture.java`` and
parquet writes at ``NativeMethodAccessorImpl.java:0``.

Decode sub-layers are timed by replaying a fixed sentence sample
in-process through the public decode functions, with counting and timing
wrappers installed on them for the length of the replay
(:func:`replay_decode`).
"""

from __future__ import annotations

import contextlib
import heapq
import time
from collections import defaultdict
from typing import Dict, List

from py4j.protocol import Py4JError


class Tracer:
    """Wall time per layer plus the Spark jobs each layer ran. With
    ``enabled=False``, :meth:`layer` does nothing: the untimed-run code
    path sets no job group and reads nothing back."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.wall: Dict[str, float] = defaultdict(float)
        self.calls: Dict[str, int] = defaultdict(int)
        self._groups: Dict[str, List[str]] = defaultdict(list)
        self._seq = 0

    @contextlib.contextmanager
    def layer(self, name: str):
        if not self.enabled:
            yield
            return
        self._seq += 1
        group = f"{name}#{self._seq}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall[name] += time.perf_counter() - t0
            self.calls[name] += 1
            self._groups[name].append(group)
            if prev is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(prev, prev_desc or prev)

    # -- status-store readout -------------------------------------------
    def jobs(self, name: str) -> List[int]:
        st = self.sc.statusTracker()
        return sorted({j for g in self._groups.get(name, []) for j in st.getJobIdsForGroup(g)})

    def stages(self, name: str) -> List[dict]:
        """One dict per stage attempt the layer's jobs ran (skipped
        stages, whose shuffle output was reused, are left out)."""
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out, seen = [], set()
        for j in self.jobs(name):
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else []:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    s = store.lastStageAttempt(sid)
                except Py4JError:
                    continue
                if s.numCompleteTasks() + s.numFailedTasks() == 0:
                    continue
                out.append(
                    {
                        "id": sid,
                        "attempt": s.attemptId(),
                        "tasks": s.numTasks(),
                        "run_ms": s.executorRunTime(),
                        "shuffle_write": s.shuffleWriteBytes(),
                        "shuffle_read": s.shuffleReadBytes(),
                        "output_bytes": s.outputBytes(),
                        "failed": s.numFailedTasks(),
                    }
                )
        return out

    def task_run_ms(self, stage: dict) -> List[int]:
        store = self.sc._jsc.sc().statusStore()
        seq = store.taskList(stage["id"], stage["attempt"], 1 << 30)
        out = []
        for i in range(seq.length()):
            m = seq.apply(i).taskMetrics()
            if m.isDefined():
                out.append(m.get().executorRunTime())
        return out

    def failed_tasks(self) -> int:
        return sum(s["failed"] for name in list(self._groups) for s in self.stages(name))


def heaviest(stages: List[dict], need_shuffle_read: bool = False) -> dict:
    pool = [s for s in stages if s["shuffle_read"] > 0] if need_shuffle_read else stages
    return max(pool or stages, key=lambda s: s["run_ms"])


@contextlib.contextmanager
def checkpoint_sublayers(tracer: Tracer):
    """Split ``run_checkpointed`` into its count, write, lineage-append and
    resume (lineage read plus rollback) steps by wrapping the calls it
    makes. No-op when not tracing."""
    if not tracer.enabled:
        yield
        return
    from pyspark.sql import DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame

    from genie_spark import checkpoint

    def wrap(obj, attr, layer):
        orig = getattr(obj, attr)

        def wrapped(*a, **k):
            with tracer.layer(layer):
                return orig(*a, **k)

        setattr(obj, attr, wrapped)
        return orig

    saved = [
        (DataFrame, "count", wrap(DataFrame, "count", "checkpoint.count")),
        (DataFrameWriter, "parquet", wrap(DataFrameWriter, "parquet", "checkpoint.write")),
    ]
    for fn, layer in (
        ("completed_chunks", "checkpoint.resume"),
        ("_clean_uncommitted", "checkpoint.resume"),
        ("_append_lineage", "checkpoint.lineage"),
    ):
        saved.append((checkpoint, fn, wrap(checkpoint, fn, layer)))
    try:
        yield
    finally:
        for obj, attr, orig in saved:
            setattr(obj, attr, orig)


# -- decode replay -------------------------------------------------------


class _Profiler:
    """Inclusive and self time per wrapped function, with call counts."""

    def __init__(self):
        self.incl = defaultdict(float)
        self.self_ = defaultdict(float)
        self.calls = defaultdict(int)
        self._stack: List[list] = []

    def wrap(self, key, fn):
        prof = self

        def wrapped(*a, **k):
            frame = [0.0]
            prof._stack.append(frame)
            t0 = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                dt = time.perf_counter() - t0
                prof._stack.pop()
                prof.incl[key] += dt
                prof.self_[key] += dt - frame[0]
                prof.calls[key] += 1
                if prof._stack:
                    prof._stack[-1][0] += dt

        return wrapped


def replay_decode(stack, sentences: List[str], num_beams: int = 2) -> dict:
    """Decode ``sentences`` in this process twice through the public
    ``decode.generate_for_text``: once bare (sentences/s on one core),
    once with wrappers on the scorer, softmax, beam search, constraint
    state, trie and tokenizer (counts and sub-layer times)."""
    from genie_spark import constraints, decode, tokenizer, trie, triples

    tok, codes, ent, rel, scorer = stack

    def run():
        return [
            decode.top_valid_prediction(
                decode.generate_for_text(s, scorer, tok, codes, ent, rel, num_beams=num_beams)
            )
            for s in sentences
        ]

    t0 = time.perf_counter()
    preds = run()
    bare = time.perf_counter() - t0

    prof = _Profiler()
    counts = defaultdict(int)
    allowed_total = [0]
    scorer_cls = type(scorer)
    targets = [
        (decode, "beam_search", "beam"),
        (decode, "_log_softmax", "softmax"),
        (scorer_cls, "score", "score"),
        (scorer_cls, "advance", "score"),
        (constraints.DecodeState, "clone", "state.clone"),
        (constraints.DecodeState, "push", "state.push"),
        (constraints.DecodeState, "allowed", "state.allowed"),
        (trie.FlatTrie, "step", "trie"),
        (tokenizer.WordTokenizer, "decode", "tokenizer"),
    ]
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in targets]
    for obj, attr, key in targets:
        setattr(obj, attr, prof.wrap(key, getattr(obj, attr)))

    trie_allowed = trie.FlatTrie.allowed

    def allowed(self, node):
        out = trie_allowed(self, node)
        allowed_total[0] += len(out)
        return out

    trie.FlatTrie.allowed = prof.wrap("trie_allowed", allowed)
    saved.append((trie.FlatTrie, "allowed", trie_allowed))

    nsmallest = heapq.nsmallest

    def counting_nsmallest(n, iterable, *a, **k):
        counts["steps"] += 1
        counts["candidates"] += len(iterable)
        return nsmallest(n, iterable, *a, **k)

    heapq.nsmallest = counting_nsmallest
    saved.append((heapq, "nsmallest", nsmallest))
    try:
        t0 = time.perf_counter()
        wrapped_preds = run()
        wrapped = time.perf_counter() - t0
    finally:
        for obj, attr, orig in reversed(saved):
            setattr(obj, attr, orig)
    assert wrapped_preds == preds, "the decode wrappers changed the output"

    t0 = time.perf_counter()
    for p in preds:
        triples.parse_linearization(p or "")
    parse_s = time.perf_counter() - t0

    n_allowed = prof.calls["trie_allowed"]
    return {
        "decode.sentences_per_s": len(sentences) / bare,
        "decode.steps": counts["steps"],
        "decode.candidates": counts["candidates"],
        "decode.score_s": prof.incl["score"],
        "decode.softmax_s": prof.incl["softmax"],
        "decode.beam_s": prof.self_["beam"],
        "trie.allowed_calls": n_allowed,
        "trie.allowed_mean": allowed_total[0] / max(n_allowed, 1),
        "trie.lookup_s": prof.incl["trie"] + prof.incl["trie_allowed"],
        "constraints.clones": prof.calls["state.clone"],
        "constraints.state_s": sum(v for k, v in prof.self_.items() if k.startswith("state.")),
        "tokenizer.decode_s": prof.incl["tokenizer"],
        "triples.parse_s": parse_s,
        "_wrapped_s": wrapped,
    }
