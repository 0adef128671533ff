"""The Spark generation operator and the end-to-end extraction pipeline.

This is the Spark-native counterpart of the reference's flagship entry
point (reference: genie/evaluate.py:33-66 driving
genie/models/genie_base_pl.py:194-248): scan → filter → sentence split →
batched constrained generation → parse → triples. Everything relational is
declarative DataFrame API (Catalyst plans it); Python appears exactly once,
in the Arrow-batched ``mapInPandas`` generation stage — per the
BASELINE.json input_hint ("vectorized pandas/Arrow UDFs, no per-row
Python" at the API boundary).

Scale design (100 TB / 1000 executors):

* The tokenizer vocabulary and both tries are built ONCE on the driver
  from the (small) catalog dimension tables, then shipped with
  ``sc.broadcast`` — one copy per executor JVM, handed to each reused
  Python worker on first use (reference loads the pickled trie per process:
  genie/models/genie_base_pl.py:92-94). The FlatTrie is three numpy arrays
  (CSR), so the large-schema ~6M-name trie broadcasts as a few hundred MB
  instead of a multi-GB nested dict.
* Generation is embarrassingly parallel per sentence — no cross-row
  state — so output is invariant to partitioning (the two-cluster-size
  determinism invariant) and the stage scales linearly until the scan or
  the downstream canonicalize shuffle dominates.
* ``repartition`` before the generation stage balances compute (decode
  cost is proportional to document length, not row count); callers at
  cluster scale should pass ``partitions ≈ 2-3 × total cores``.
* Per-executor init (trie unpack, scorer construction) happens once per
  Python worker via a module-level cache keyed by broadcast id — the same
  trick as the reference's once-per-run tag-id precompute
  (ie_prefix_constraints.py:94-134), not once per batch.
"""

from __future__ import annotations

import sys
from typing import Iterator, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from .constraints import TagCodes
from .datapipe.dedup import _declared_partitions
from .decode import DeterministicScorer, generate_for_text, top_valid_prediction
from .extract import sentences_df
from .tokenizer import WordTokenizer
from .trie import trie_from_names
from .triples import parse_triples_col

BEAM_SCHEMA = ArrayType(
    StructType(
        [
            StructField("text", StringType()),
            StructField("log_prob", DoubleType()),
        ]
    )
)

# per-Python-worker cache: broadcast id → (tokenizer, codes, ent_trie,
# rel_trie, scorer). Survives across tasks when spark.python.worker.reuse
# is on (default), so the decode machinery is built once per worker.
_WORKER_CACHE: dict = {}


def default_stack_factory(payload: dict):
    """Build the decode stack in WordTokenizer space (the sandbox/oracle
    path) with the DeterministicScorer. Prebuilt CSR arrays in the
    payload (``trie_artifacts``) are WordTokenizer-space ids, so only
    this factory reads them."""
    tok = WordTokenizer(payload["ent_names"] + payload["rel_names"])
    codes = TagCodes(tok)
    if "ent_trie" in payload:
        # preloaded artifact: the broadcast carries the CSR arrays directly
        from .trie import FlatTrie

        ent = FlatTrie(*payload["ent_trie"])
        rel = FlatTrie(*payload["rel_trie"])
    else:
        ent = trie_from_names(payload["ent_names"], tok)
        rel = trie_from_names(payload["rel_names"], tok)
    return tok, codes, ent, rel, DeterministicScorer(tok)


def hf_stack_factory(payload: dict, checkpoint: str, device: str):
    """Build the decode stack in the HF checkpoint's OWN id space — the
    production path (reference flagship: model.sample,
    genie_base_pl.py:435-555, with tag ids derived from the model's BART
    tokenizer, ie_prefix_constraints.py:94-131). The tokenizer adapter
    derives TagCodes from the checkpoint's tokenizer and the tries are
    re-encoded through it, so constraint masks, beam tokens, and
    decoder_input_ids all live in one id space. Ship it as
    ``GenieExtractor(stack_factory=functools.partial(hf_stack_factory,
    checkpoint=..., device=...))``. Raises in this sandbox (no
    torch/transformers) — the wiring is exercised by the fake-BPE
    adapter tests."""
    from .decode import HFSeq2SeqScorer
    from .hf_adapter import HFTokenizerAdapter

    scorer = HFSeq2SeqScorer(checkpoint, device=device)
    tok = HFTokenizerAdapter(scorer.tokenizer)
    codes = TagCodes(tok)
    ent = trie_from_names(payload["ent_names"], tok)
    rel = trie_from_names(payload["rel_names"], tok)
    return tok, codes, ent, rel, scorer


def _keep_zip_directories() -> None:
    """Stop a Python worker re-reading zip archives before every task.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of each task, and before Python 3.12 every ``zipimporter`` answers it
    by re-reading its archive's whole directory. A worker imports pyspark
    from ``pyspark.zip``, with the Spark core jar on its path as well, and
    holds one such importer per package it imported from them: about
    0.2 s of every decode task on a 4-core host, as long as the decode
    itself at 50 sentences a task. Spark's archives do not change while a
    worker lives, and an archive added to the path later still gets an
    importer of its own. Python 3.12 reads a directory again only when it
    is next used."""
    if sys.version_info < (3, 12):
        import zipimport

        zipimport.zipimporter.invalidate_caches = lambda self: None


def _worker_setup(payload: dict):
    key = payload["cache_key"]
    hit = _WORKER_CACHE.get(key)
    if hit is not None:
        return hit
    _keep_zip_directories()
    stack = payload["stack_factory"](payload)
    _WORKER_CACHE.clear()  # one active schema per worker; avoid leaks
    _WORKER_CACHE[key] = stack
    return _WORKER_CACHE[key]


def save_trie_artifacts(
    ent_names: List[str],
    rel_names: List[str],
    ent_path: str,
    rel_path: str,
) -> None:
    """S10 (reference trie.py:65-77): persist both catalog tries (+ the
    companion original-strings jsonl) as reloadable artifacts. Both tries
    MUST be saved together: token ids come from the tokenizer built over
    the ent+rel name union, so artifacts from different unions cannot be
    mixed — GenieExtractor(trie_artifacts=...) reloads the pair and
    rebuilds that same tokenizer from the companion names."""
    ents = sorted(set(ent_names))
    rels = sorted(set(rel_names))
    tok = WordTokenizer(ents + rels)
    trie_from_names(ents, tok).save(ent_path, names=ents)
    trie_from_names(rels, tok).save(rel_path, names=rels)


class GenieExtractor:
    """Closed-world constrained triple generation as a DataFrame transform.

    Public API analog of the reference's ``model.sample``
    (genie_base_pl.py:435-555), lifted to DataFrames:
    ``transform(df)`` consumes a column of input texts and appends
    ``beams: array<struct<text,log_prob>>`` plus the top-valid
    ``prediction`` string and parsed ``pred_triples``.
    """

    def __init__(
        self,
        spark: SparkSession,
        ent_names: Optional[List[str]] = None,
        rel_names: Optional[List[str]] = None,
        num_beams: int = 2,
        length_penalty: float = 0.0,
        bos_first: bool = False,
        num_return_sequences: Optional[int] = None,
        trie_artifacts: Optional[tuple] = None,
        stack_factory=default_stack_factory,
        constrained: bool = True,
    ):
        """``constrained=False`` switches to FREE generation — the
        reference's ``free_generation=true`` run mode (genie_base_pl.py:
        92-94: tries only load when constrained and model.sample runs
        without a constraint fn; genie_base_hf.py:1-36 is that baseline).
        The decode stack (tokenizer/scorer) is identical; only the
        per-step allowed set changes to the full non-special vocabulary,
        so output need not be well-formed and names need not be catalog
        entries.

        ``stack_factory`` chooses the decode stack: a picklable
        ``payload -> (tok, codes, ent_trie, rel_trie, scorer)`` callable
        that each executor's Python worker runs once, on the broadcast
        payload (catalog names, plus the artifact arrays when
        ``trie_artifacts`` is given). The reference analog is the model
        object handed to evaluate.py:35-66.

        * ``default_stack_factory`` (default) — DeterministicScorer over
          WordTokenizer (sandbox/oracle path).
        * ``functools.partial(hf_stack_factory, checkpoint=...,
          device=...)`` — the production path: each worker loads the HF
          seq2seq checkpoint and builds the WHOLE stack (TagCodes, tries,
          beams) in that model's tokenizer id space via
          hf_adapter.HFTokenizerAdapter, matching the reference's
          model.sample flagship (genie_base_pl.py:435-555).
        * ``toy_bpe.toy_bpe_stack_factory`` — the executable reference for
          the adapter contract where no checkpoint can load.

        Factories other than the default rebuild the tries in their own
        id space from the payload's names, so they ignore the artifact
        arrays.
        """
        self.num_beams = num_beams
        # search width vs returned beams (reference hf_generation_params:
        # num_beams=10, num_return_sequences=2); None = return all beams
        self.num_return_sequences = num_return_sequences
        # reference decode-parity knobs (default.yaml:9 length_penalty=1.0,
        # ie_prefix_constraints.py:183-184 BOS forcing); defaults keep the
        # deterministic-scorer golden outputs unchanged
        self.length_penalty = length_penalty
        self.bos_first = bos_first
        self.constrained = constrained
        if trie_artifacts is not None:
            # preloaded S10 artifacts (save_trie_artifacts): names come
            # from the companion jsonl, the CSR arrays broadcast as-is —
            # workers skip the trie build entirely
            from .trie import FlatTrie

            ent_path, rel_path = trie_artifacts
            ent_names = FlatTrie.load_names(ent_path)
            rel_names = FlatTrie.load_names(rel_path)
            et, rt = FlatTrie.load(ent_path), FlatTrie.load(rel_path)
            extra = {
                "ent_trie": (et.offsets, et.tokens, et.childs),
                "rel_trie": (rt.offsets, rt.tokens, rt.childs),
            }
        else:
            extra = {}
        # Sort for build determinism (reference trie.py:36). The broadcast
        # carries raw names, not the trie: names compress well, and the
        # CSR build is cheap and deterministic on each worker.
        payload = {
            "ent_names": sorted(set(ent_names)),
            "rel_names": sorted(set(rel_names)),
            "stack_factory": stack_factory,
            **extra,
        }
        # Hash the FULL name lists: a catalog refresh that preserves counts
        # and the first-N sorted names must still produce a distinct key, or
        # a reused Python worker would serve stale tries (silent wrong
        # triples). One md5 over the joined byte string is microseconds even
        # at ~6M names, and — unlike Python's salted hash() — stable across
        # driver processes. The factory's pickle (a module-level function
        # pickles as its qualified name, a partial with its bound
        # arguments) separates stacks that share a catalog, or worker
        # reuse would serve the wrong scorer.
        import hashlib
        import pickle

        catalog_digest = hashlib.md5()
        for name in payload["ent_names"]:
            catalog_digest.update(name.encode("utf-8", "surrogatepass"))
            catalog_digest.update(b"\x1f")
        catalog_digest.update(b"\x1e")
        for name in payload["rel_names"]:
            catalog_digest.update(name.encode("utf-8", "surrogatepass"))
            catalog_digest.update(b"\x1f")
        payload["cache_key"] = (
            len(payload["ent_names"]),
            len(payload["rel_names"]),
            catalog_digest.hexdigest(),
            hashlib.md5(pickle.dumps(stack_factory)).hexdigest(),
        )
        self._bc = spark.sparkContext.broadcast(payload)

    def transform(self, df: DataFrame, text_col: str = "input") -> DataFrame:
        """df(..., text_col) → df + beams + prediction + pred_triples."""
        bc = self._bc
        num_beams = self.num_beams
        length_penalty, bos_first = self.length_penalty, self.bos_first
        n_ret = self.num_return_sequences
        constrained = self.constrained
        out_schema = StructType(
            df.schema.fields
            + [
                StructField("beams", BEAM_SCHEMA),
                StructField("prediction", StringType()),
            ]
        )
        in_cols = [f.name for f in df.schema.fields]

        def gen(batches: Iterator) -> Iterator:
            tok, codes, ent, rel, scorer = _worker_setup(bc.value)
            if constrained:
                fv = None
            else:
                from .decode import free_vocab_ids

                # free mode: tries are ignored, allowed set = full vocab
                # (built once per worker, shared across rows)
                ent = rel = None
                fv = free_vocab_ids(tok)
            for pdf in batches:
                beams_col, pred_col = [], []
                for text in pdf[text_col]:
                    beams = generate_for_text(
                        text, scorer, tok, codes, ent, rel,
                        num_beams=num_beams, max_length=96,
                        length_penalty=length_penalty, bos_first=bos_first,
                        num_return_sequences=n_ret, free_vocab=fv,
                    )
                    beams_col.append(
                        [(b["text"], float(b["log_prob"])) for b in beams]
                    )
                    pred_col.append(top_valid_prediction(beams))
                out = pdf[in_cols].copy()
                out["beams"] = beams_col
                out["prediction"] = pred_col
                yield out

        result = df.mapInPandas(gen, out_schema)
        return result.withColumn(
            "pred_triples", parse_triples_col("coalesce(prediction, '')")
        )

    def score_targets(self, df: DataFrame) -> DataFrame:
        """A9 — forced target scoring as a DataFrame transform (reference:
        label-smoothed NLL in validation_step, genie_base_pl.py:168-192 /
        utils.py:6-54, lifted out of torch into the scorer protocol).
        Appends nll_sum, smooth_sum, n_tokens, loss (per-token,
        label-smoothed with epsilon 0.1) for each row's ``prediction``
        linearization given its ``input`` text — NULL target rows get
        NULL scores. Row-local like generation: no cross-row
        state, partition-invariant, same broadcast stack and per-worker
        cache as transform()."""
        from pyspark.sql.types import IntegerType

        bc = self._bc
        out_schema = StructType(
            df.schema.fields
            + [
                StructField("nll_sum", DoubleType()),
                StructField("smooth_sum", DoubleType()),
                StructField("n_tokens", IntegerType()),
                StructField("loss", DoubleType()),
            ]
        )
        in_cols = [f.name for f in df.schema.fields]

        def score(batches: Iterator) -> Iterator:
            from .decode import sequence_nll

            tok, codes, ent, rel, scorer = _worker_setup(bc.value)
            eos = tok.eos_token_id
            for pdf in batches:
                nlls, smooths, ns, losses = [], [], [], []
                for text, target in zip(pdf["input"], pdf["prediction"]):
                    if target is None:
                        nlls.append(None); smooths.append(None)
                        ns.append(None); losses.append(None)
                        continue
                    ids = tok.encode_pieces(target) + [eos]
                    nll, smooth, n, loss = sequence_nll(
                        text, ids, scorer, tok, codes, ent, rel
                    )
                    nlls.append(nll); smooths.append(smooth)
                    ns.append(n); losses.append(loss)
                out = pdf[in_cols].copy()
                out["nll_sum"] = nlls
                out["smooth_sum"] = smooths
                out["n_tokens"] = ns
                out["loss"] = losses
                yield out

        return df.mapInPandas(score, out_schema)


def extract_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    ent_names: List[str],
    rel_names: List[str],
    lang: Optional[str] = "en",
    partitions: Optional[int] = None,
    extractor: Optional[GenieExtractor] = None,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang, …) → one row per sentence with
    extracted triples: (url, sent_idx, input, beams, prediction,
    pred_triples).

    Plan shape: scan → lang filter (pushed to the parquet/Iceberg scan by
    Catalyst) → JVM-side sentence split (no Python) → repartition to
    saturate cores → mapInPandas generation → JVM-side parse.

    ``partitions``: None (default) auto-repartitions to 2× the cluster's
    default parallelism unless the plan already carries a partitioning of
    at least that size — the generation stage is compute-bound, so
    inheriting a small file count single-threads the decode (measured: a
    1-partition scan pinned throughput at one worker regardless of
    local[8] vs local[32]). The check reads the physical plan's declared
    output partitioning (a pure plan-analysis probe: no ``df.rdd``, no
    file listing, no Spark job); scans report "unknown" and get the
    balancing repartition — the safe default for a compute-dominant
    stage. Pass an explicit count to override, or 0 to keep the scan
    partitioning.
    """
    if lang is not None:
        pages = pages.filter(F.col("lang") == lang)
    sents = sentences_df(pages).select(
        "url", "warc_ts", "sent_idx", "input"
    )
    if partitions is None:
        want = spark.sparkContext.defaultParallelism * 2
        partitions = 0 if _declared_partitions(sents) >= want else want
    if partitions:
        # balance decode compute, not bytes: hash on (url, sent_idx)
        sents = sents.repartition(partitions, "url", "sent_idx")
    ex = extractor or GenieExtractor(spark, ent_names, rel_names)
    return ex.transform(sents)
