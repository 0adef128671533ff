"""The genie_spark benchmark: one command per workload run.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Generates seeded inputs (in a process of its own, cached outside the
timed window), starts Spark sized for the host, sets the program up
several times, then runs the workload as a closed loop (one client, one
job at a time) for ``--seconds`` seconds, each iteration into a fresh
output directory. It checks every output and prints, as its last line, a
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. It exits 1 when an output check fails. See README.md.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from typing import Dict, List

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_DIR = os.path.join(ROOT, ".perfbench_work")

from graph_ops import OPS as GRAPH_OPS  # noqa: E402  (perfbench/ is sys.path[0])
from inputs import Shape  # noqa: E402

BUILD_SHAPE = Shape(pages=200, entities=20000)
GRAPH_SHAPE = Shape(pages=2000, entities=2000)
N_CHUNKS, CHUNKS_PER_JOB = 16, 16
RESUME_COMMITTED = 12  # chunks 0..11 committed; chunk 12 has data and no lineage
SETUPS = 3
REPLAY_SENTENCES = 120

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "docs_per_s": "1/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "pipeline.decode_stage_s": "s",
    "pipeline.tasks": "count",
    "pipeline.task_skew": "ratio",
    "pipeline.shuffle_write_bytes": "bytes",
    "pipeline.stack_build_s": "s",
    "decode.sentences_per_s": "1/s",
    "decode.steps": "count",
    "decode.candidates": "count",
    "decode.score_s": "s",
    "decode.softmax_s": "s",
    "decode.beam_s": "s",
    "trie.allowed_calls": "count",
    "trie.allowed_mean": "count",
    "trie.lookup_s": "s",
    "constraints.clones": "count",
    "constraints.state_s": "s",
    "tokenizer.decode_s": "s",
    "extract.split_s": "s",
    "extract.sentences": "count",
    "triples.parse_s": "s",
    "checkpoint.groups": "count",
    "checkpoint.count_s": "s",
    "checkpoint.write_s": "s",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.lineage_s": "s",
    "checkpoint.resume_s": "s",
    "checkpoint.chunks_skipped": "count",
    "canonicalize.s": "s",
    "canonicalize.shuffle_bytes": "bytes",
    "canonicalize.hot_task_share": "ratio",
    "canonicalize.mentions": "count",
    "canonicalize.triples": "count",
    "iceberg.write_s": "s",
    "iceberg.files": "count",
    "iceberg.bytes": "bytes",
    "evaluation.s": "s",
    "evaluation.jobs": "count",
    **{f"graph.{op}_s": "s" for op in GRAPH_OPS},
    **{f"graph.{op}_jobs": "count" for op in GRAPH_OPS},
    "spark.failed_tasks": "count",
    "trace.overhead_s": "s",
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _files(path: str) -> List[str]:
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


class Workload:
    """One workload: set-up (timed as ``setup_s``), the timed iteration,
    the untimed tail that follows the loop, and the output checks."""

    shape: Shape
    decodes = True

    def __init__(self, paths: Dict[str, str], props: dict, work: str, seed: int):
        self.paths, self.props, self.work, self.seed = paths, props, work, seed
        self.docs = props["pages"]
        self.ops = 0  # public calls made: chunk-group commits, graph ops, sink writes, evaluations
        self.checks = 0
        self.problems: List[str] = []
        self.graphs: List[list] = []
        self.golden = None

    def setup(self, spark) -> None:
        self.spark = spark
        self.pages = spark.read.parquet(self.paths["pages"])
        self.warm_pages = spark.read.parquet(self.paths["warm"])
        self.ent_cat = spark.read.parquet(self.paths["entities"])
        self.rel_cat = spark.read.parquet(self.paths["relations"])

    def iteration(self, out: str, tr, pages):
        """One pass over ``pages``; returns what :meth:`after` checks."""
        raise NotImplementedError

    def after(self, out: str, result) -> None:
        """Untimed: keep what the checks need of one timed iteration."""
        import checks

        self.graphs.append(checks.read_graph(os.path.join(out, "graph")))

    def tail(self, tr) -> Dict[str, float]:
        """Untimed program work after the loop; returns layer metrics."""
        return {}

    # -- checks --------------------------------------------------------
    def check(self, ok: bool, msg: str) -> None:
        self.checks += 1
        if not ok:
            self.problems.append(msg)

    def start_twin(self) -> None:
        """Compute the expected graph in a child process (``checks.py``),
        so that the program's peak RSS never includes it, while the
        untimed tail runs."""
        self.twin_out = os.path.join(self.work, "twin.json")
        cmd = [
            sys.executable, os.path.join(HERE, "checks.py"),
            "--inputs", os.path.dirname(self.paths["pages"]), "--out", self.twin_out,
        ]
        self.twin_proc = subprocess.Popen(cmd + ([] if self.decodes else ["--gold"]))

    def final_checks(self) -> None:
        import checks

        if self.twin_proc.wait(timeout=170) != 0:
            raise SystemExit("perfbench: the twin failed")
        with open(self.twin_out) as f:
            got = json.load(f)
        self.mentions = got["mentions"]
        self.expected_f1 = got.get("micro_f1")
        twin = [tuple(r) for r in got["graph"]]
        for rows in self.graphs:
            for p in checks.graph_problems(rows, twin, self.golden):
                self.check(False, p)
            self.check(True, "")

    # -- traced --------------------------------------------------------
    def layer_metrics(self, tr, out: str) -> Dict[str, float]:
        import tracing

        m: Dict[str, float] = {}
        pipe = [s for s in tr.stages("pipeline") if s["shuffle_read"] > 0]
        if pipe:
            times = [t for s in pipe for t in tr.task_run_ms(s)]
            m["pipeline.decode_stage_s"] = tr.wall["pipeline"]
            m["pipeline.tasks"] = sum(s["tasks"] for s in pipe)
            m["pipeline.task_skew"] = max(times) / max(_median(times), 1)
            m["pipeline.shuffle_write_bytes"] = sum(s["shuffle_write"] for s in tr.stages("pipeline"))
        if tr.calls.get("checkpoint"):
            m["checkpoint.groups"] = tr.calls["checkpoint.write"]
            m["checkpoint.count_s"] = tr.wall["checkpoint.count"]
            m["checkpoint.write_s"] = tr.wall["checkpoint.write"]
            m["checkpoint.bytes_written"] = sum(s["output_bytes"] for s in tr.stages("checkpoint.write"))
            m["checkpoint.lineage_s"] = tr.wall["checkpoint.lineage"]
        canon = tr.stages("canonicalize")
        m["canonicalize.s"] = tr.wall["canonicalize"]
        m["canonicalize.shuffle_bytes"] = sum(s["shuffle_write"] for s in canon)
        if canon:
            times = tr.task_run_ms(tracing.heaviest(canon, need_shuffle_read=True))
            m["canonicalize.hot_task_share"] = max(times) / max(sum(times), 1)
        graph_dir = os.path.join(out, "graph")
        m["canonicalize.triples"] = len(self.graphs[-1])
        m["iceberg.write_s"] = tr.wall["iceberg"]
        m["iceberg.files"] = len(_files(graph_dir))
        m["iceberg.bytes"] = sum(os.path.getsize(f) for f in _files(graph_dir))
        m["evaluation.s"] = tr.wall["evaluation"]
        m["evaluation.jobs"] = len(tr.jobs("evaluation"))
        for op in GRAPH_OPS:
            if tr.calls.get(f"graph.{op}"):
                m[f"graph.{op}_s"] = tr.wall[f"graph.{op}"]
                m[f"graph.{op}_jobs"] = len(tr.jobs(f"graph.{op}"))
        m["spark.failed_tasks"] = tr.failed_tasks()
        return m


class KgBuild(Workload):
    """A fresh checkpointed build over seeded pages, timed. Then, untimed,
    a resume from a copy of it with ¾ of the chunks committed and one
    chunk holding data but no lineage record, which must reproduce the
    build exactly."""

    shape = BUILD_SHAPE

    def setup(self, spark) -> None:
        from pyspark.sql import functions as F

        from genie_spark.pipeline import GenieExtractor, extract_pipeline

        super().setup(spark)
        self.ents = [r["name"] for r in self.ent_cat.select("name").collect()]
        self.rels = [r["name"] for r in self.rel_cat.select("name").collect()]
        self.extractor = GenieExtractor(spark, self.ents, self.rels, num_beams=2)
        warm = self.warm_pages.filter(F.col("lang") == "en").limit(16)
        extract_pipeline(spark, warm, self.ents, self.rels, extractor=self.extractor).write.format(
            "noop"
        ).mode("overwrite").save()
        import checks

        self.golden = checks.load_golden().get(self.shape.key(), {}).get(str(self.seed))
        self.template = None
        self.f1s: List[float] = []

    def checkpointed(self, out: str, tr, pages) -> List[int]:
        import tracing
        from genie_spark.checkpoint import run_checkpointed, with_chunk
        from genie_spark.pipeline import extract_pipeline

        spark, ents, rels, ex = self.spark, self.ents, self.rels, self.extractor

        def process(chunked):
            df = with_chunk(
                extract_pipeline(spark, chunked, ents, rels, lang="en", extractor=ex),
                key="url",
                n_chunks=N_CHUNKS,
            )
            if tr.enabled:  # materialize at the decode -> checkpoint boundary
                with tr.layer("pipeline"):
                    df = df.localCheckpoint(eager=True)
            return df

        with tr.layer("checkpoint"), tracing.checkpoint_sublayers(tr):
            done = run_checkpointed(
                spark, pages, process, os.path.join(out, "extracted"),
                key="url", n_chunks=N_CHUNKS, chunks_per_job=CHUNKS_PER_JOB,
            )
        self.ops += -(-len(done) // CHUNKS_PER_JOB)
        return done

    def iteration(self, out: str, tr, pages):
        from pyspark.sql import functions as F

        from genie_spark.canonicalize import materialize_graph, write_graph
        from genie_spark.evaluation import evaluate_dataset

        done = self.checkpointed(out, tr, pages)
        extracted = self.spark.read.parquet(os.path.join(out, "extracted", "data"))
        graph = materialize_graph(extracted, self.ent_cat, self.rel_cat)
        if tr.enabled:
            with tr.layer("canonicalize"):
                graph = graph.localCheckpoint(eager=True)
        with tr.layer("iceberg"):
            write_graph(graph, os.path.join(out, "graph"), mode="overwrite")
        with tr.layer("evaluation"):
            pred = extracted.groupBy("url").agg(F.flatten(F.collect_list("pred_triples")).alias("pred"))
            empty = F.array().cast("array<struct<s:string,r:string,o:string>>")
            df = (
                pages.filter(F.col("lang") == "en")
                .select("url", F.col("gold").alias("target"))
                .join(pred, "url", "left")
                .withColumn("pred", F.coalesce("pred", empty))
            )
            f1 = evaluate_dataset(df)["micro"]["f1"]
        self.ops += 2
        return done, f1

    def after(self, out: str, result) -> None:
        from genie_spark.checkpoint import LINEAGE_DIR

        super().after(out, result)
        done, f1 = result
        self.f1s.append(f1)
        self.check(sorted(done) == list(range(N_CHUNKS)), f"a fresh build processed chunks {sorted(done)}")
        if self.template is not None:
            return
        src = os.path.join(out, "extracted")
        self.built_rows = _extracted_rows(src)
        self.template = os.path.join(self.work, "resume-template")
        for c in range(RESUME_COMMITTED + 1):
            d = os.path.join(src, "data", f"chunk={c}")
            if os.path.exists(d):
                shutil.copytree(d, os.path.join(self.template, "data", f"chunk={c}"))
        os.makedirs(os.path.join(self.template, LINEAGE_DIR))
        for c in range(RESUME_COMMITTED):
            f = f"chunk_{c}.json"
            shutil.copy(os.path.join(src, LINEAGE_DIR, f), os.path.join(self.template, LINEAGE_DIR, f))

    def tail(self, tr) -> Dict[str, float]:
        """The resume, checked against the fresh build."""
        from genie_spark.checkpoint import LINEAGE_DIR

        out = os.path.join(self.work, "resume")
        ext = os.path.join(out, "extracted")
        shutil.copytree(self.template, ext)
        done = self.checkpointed(out, tr, self.pages)
        recs = []
        for f in glob.glob(os.path.join(ext, LINEAGE_DIR, "*.json")):
            with open(f) as fh:
                recs += [json.loads(line)["chunk"] for line in fh if line.strip()]
        self.check(sorted(recs) == list(range(N_CHUNKS)), f"resumed lineage lists chunks {sorted(recs)}")
        self.check(_extracted_rows(ext) == self.built_rows, "resumed output differs from the fresh build's")
        want = list(range(RESUME_COMMITTED, N_CHUNKS))
        self.check(sorted(done) == want, f"resume processed chunks {sorted(done)}, not {want}")
        shutil.rmtree(out)
        if not tr.enabled:
            return {}
        return {
            "checkpoint.resume_s": tr.wall["checkpoint.resume"],
            "checkpoint.chunks_skipped": N_CHUNKS - len(done),
            **self.replay(),
        }

    def final_checks(self) -> None:
        super().final_checks()
        for f1 in self.f1s:
            self.check(abs(f1 - self.expected_f1) < 1e-9, f"micro F1 {f1} is not the twin's {self.expected_f1}")

    def replay(self) -> Dict[str, float]:
        """Decode sub-layers, replayed in this process over a fixed
        sentence sample; the worker's stack build is timed the same way."""
        import pyarrow.parquet as pq

        import checks
        import tracing
        from genie_spark.extract import split_sentences

        pages = pq.read_table(self.paths["pages"], columns=["text", "lang"]).to_pylist()
        en = [p["text"] for p in pages if p["lang"] == "en"]
        t0 = time.perf_counter()
        sents = [s for t in en for s in split_sentences(t)]
        split_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        stack = checks.decode_stack(self.ents, self.rels)
        stack_s = time.perf_counter() - t0
        m = tracing.replay_decode(stack, sents[:REPLAY_SENTENCES])
        m.pop("_wrapped_s")
        m.update({"extract.split_s": split_s, "extract.sentences": len(sents), "pipeline.stack_build_s": stack_s})
        return m


def _extracted_rows(path: str) -> list:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(path, "data"), columns=["url", "sent_idx", "prediction"]).to_pydict()
    return sorted(zip(*t.values()), key=repr)


class KgGraph(Workload):
    """No decode: the pages' gold mentions are canonicalized, written, and
    analysed by the graph tier."""

    shape = GRAPH_SHAPE
    decodes = False

    def setup(self, spark) -> None:
        from genie_spark.canonicalize import materialize_graph

        super().setup(spark)
        warm = self.warm_pages.limit(50).select("url", self.warm_pages["gold"].alias("pred_triples"))
        materialize_graph(warm, self.ent_cat, self.rel_cat).write.format("noop").mode("overwrite").save()
        self.results: List[Dict[str, list]] = []

    def iteration(self, out: str, tr, pages):
        from pyspark.sql import functions as F

        import graph_ops
        from genie_spark.canonicalize import materialize_graph, write_graph

        path = os.path.join(out, "graph")
        mentions = pages.select("url", F.col("gold").alias("pred_triples"))
        graph = materialize_graph(mentions, self.ent_cat, self.rel_cat)
        if tr.enabled:
            with tr.layer("canonicalize"):
                graph = graph.localCheckpoint(eager=True)
        with tr.layer("iceberg"):
            write_graph(graph, path, mode="overwrite")
        stored = self.spark.read.parquet(path)
        edges = stored.select(F.col("subj").alias("src"), F.col("obj").alias("dst")).distinct()
        results = {}
        for op, fn in graph_ops.spark_ops(edges).items():
            with tr.layer(f"graph.{op}"):
                results[op] = fn()
        self.ops += 1 + len(results)
        return results

    def after(self, out: str, result) -> None:
        super().after(out, result)
        self.results.append(result)

    def final_checks(self) -> None:
        import graph_ops

        super().final_checks()
        expected = graph_ops.oracle(sorted({(r[0], r[2]) for r in self.graphs[-1]}))
        for got in self.results:
            for p in graph_ops.problems(got, expected):
                self.check(False, p)
            self.check(True, "")


WORKLOADS = {"kg_build": KgBuild, "kg_graph": KgGraph}


def program_identity() -> dict:
    """The checkout under test: git commit when there is one, and a digest
    of the program's source either way."""
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(ROOT, "genie_spark", "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        commit = None
    return {"git_commit": commit, "source_sha256": h.hexdigest()}


def load_inputs(seed: int, shape: Shape) -> dict:
    """Inputs are generated in a child process, so the program's peak RSS
    never includes the generator's."""
    cmd = [
        sys.executable, os.path.join(HERE, "inputs.py"), "--cache", os.path.join(WORK_DIR, "cache"),
        "--seed", str(seed), "--pages", str(shape.pages), "--entities", str(shape.entities),
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=170)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr)
        raise SystemExit(f"perfbench: input generation failed ({proc.returncode})")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def run(args) -> int:
    import spark_env
    import tracing

    cls = WORKLOADS[args.workload]
    got = load_inputs(args.seed, cls.shape)
    work = os.path.join(WORK_DIR, "run")
    shutil.rmtree(work, ignore_errors=True)
    spark_env.prepare_environment(work)
    wl = cls(got["paths"], got["properties"], work, args.seed)

    setups, spark = [], None
    walls, traced_walls, layers = [], [], []
    try:
        for _ in range(1 if args.trace else SETUPS):  # setup_s is not reported traced
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = spark_env.start(work)
            wl.setup(spark)
            setups.append(time.perf_counter() - t0)

        # With --trace 1 the iterations alternate untraced and traced and
        # both ends are untraced, so the JVM's warm-up over the run falls
        # on both sides of the tracing overhead.
        t_end = time.monotonic() + args.seconds
        i = 0
        while i == 0 or time.monotonic() < t_end or (args.trace and (i < 3 or i % 2 == 0)):
            traced = bool(args.trace) and i % 2 == 1
            out = os.path.join(work, f"it{i}")
            tr = tracing.Tracer(spark, enabled=traced)
            t0 = time.perf_counter()
            result = wl.iteration(out, tr, wl.pages)
            dt = time.perf_counter() - t0
            (traced_walls if traced else walls).append(dt)
            wl.after(out, result)
            if traced:
                layers.append(wl.layer_metrics(tr, out))
            shutil.rmtree(out)
            i += 1
        peak = spark_env.peak_rss_mb()
        wl.start_twin()
        late = wl.tail(tracing.Tracer(spark, enabled=bool(args.trace)))
        wl.final_checks()
    finally:
        twin = getattr(wl, "twin_proc", None)
        if twin is not None and twin.poll() is None:  # a failure before final_checks waited for it
            twin.kill()
            twin.wait()
        if spark is not None:
            spark.stop()
        spark_env.shutdown_jvm()

    if args.trace:
        late["canonicalize.mentions"] = wl.mentions
        metrics = {
            name: {"value": _median([{**m, **late}.get(name, 0) for m in layers]), "unit": unit}
            for name, unit in PER_LAYER.items()
        }
        metrics["trace.overhead_s"]["value"] = _median(traced_walls) - _median(walls)
    else:
        wall = _median(walls)
        values = {
            "setup_s": _median(setups),
            "wall_s": wall,
            "docs_per_s": wl.docs / wall,
            "peak_rss_mb": peak,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "program": program_identity(),
        "inputs": got["properties"],
        "setups_s": setups,
        "walls_s": walls,
        "traced_walls_s": traced_walls,
        "micro_f1": getattr(wl, "f1s", None),
        "problems": wl.problems,
    }
    print(json.dumps(detail))
    correct = not wl.problems
    attempted = wl.ops + wl.checks
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": len(wl.problems), "metrics": metrics}))
    return 0 if correct else 1


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "genie_spark", "__init__.py")):
        sys.exit("perfbench: genie_spark/ is not next to perfbench/; run from the root of a full checkout")
    if ROOT not in sys.path:
        sys.path.insert(1, ROOT)
    sys.exit(run(args))


if __name__ == "__main__":
    main()
