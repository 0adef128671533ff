"""HF-tokenizer-adapter + pluggable-scorer tests.

This sandbox has no torch/transformers, so the production HF path is
exercised with a deterministic fake BPE tokenizer that reproduces the
structural properties the adapter contract depends on (multi-piece
subword splits, leading-space 'Ġ' marker, BART-style special ids, tags
splitting as [Ġ<, tag, >]). What IS fully tested here:

* the reference's tag-id derivation contract (encode " <tag>", equal
  lengths, shared start/end ids — ie_prefix_constraints.py:94-131),
  including rejection of tokenizers that violate it;
* the leading-space trie recipe (trie.py:25-36) through the adapter;
* end-to-end constrained beam search in a NON-WordTokenizer id space —
  multi-piece names walked through the trie cursor, EOS→'<' swap,
  grammar well-formedness, catalog closure of every emitted name;
* stack-factory plumbing: a non-default stack shipped through
  GenieExtractor's broadcast reaches the executors (mapInPandas output
  matches the driver-side twin of that stack), and the worker-cache key
  separates stacks that share a catalog.
"""

from functools import partial

import pytest

from genie_spark.constraints import TagCodes
from genie_spark.decode import INVALID_LOG_PROB, generate_for_text
from genie_spark.hf_adapter import HFTokenizerAdapter, TagIdContractError
from genie_spark.trie import trie_from_names
from genie_spark.triples import parse_linearization


# The fake tokenizer now lives in the library as the executable
# reference for the adapter contract (usable on executors); tests keep
# the old name.
from genie_spark.toy_bpe import ToyBPETokenizer as FakeBPETokenizer  # noqa: E402


ENTS = ["Albert Einstein", "Zurich", "Mileva Maric", "Switzerland", "photon"]
RELS = ["birthplace", "spouse", "country"]


@pytest.fixture(scope="module")
def adapter():
    return HFTokenizerAdapter(FakeBPETokenizer(ENTS + RELS))


def test_adapter_tag_contract(adapter):
    """Tag triplet derivation per the reference asserts: shared '<'/'>'
    ids, four distinct content ids, and ids distinct from specials."""
    lt, gt = adapter.piece2id["<"], adapter.piece2id[">"]
    tags = [adapter.piece2id[w] for w in ("sub", "rel", "obj", "et")]
    assert len(set(tags)) == 4
    assert lt not in tags and gt not in tags and lt != gt
    assert min([lt, gt, *tags]) >= 4  # no collision with special ids
    # " <sub>" must encode to exactly [bos, lt, sub, gt, eos]
    ids = adapter._ids(" <sub>")
    assert ids == [
        adapter.bos_token_id, lt, adapter.piece2id["sub"], gt,
        adapter.eos_token_id,
    ]


def test_adapter_rejects_tag_splitting_tokenizer():
    """A tokenizer that chunks tag words into multiple pieces violates
    the contract and must be rejected loudly, not mis-derive ids."""

    class TwoCharBPE(FakeBPETokenizer):
        def _pieces(self, text):
            out = []
            for m in self._SPLIT.finditer(text):
                t = m.group()
                marked = t.startswith(" ")
                w = t.lstrip(" ")
                if w in ("<", ">"):
                    out.append(("Ġ" if marked else "") + w)
                    continue
                for i in range(0, len(w), 2):  # 'sub' → ['su', 'b']
                    out.append(("Ġ" if marked and i == 0 else "") + w[i : i + 2])
            return out

    with pytest.raises(TagIdContractError):
        HFTokenizerAdapter(TwoCharBPE(ENTS + RELS))


def test_adapter_trie_recipe(adapter):
    """encode(name)[1:] must equal the reference recipe: ids of
    ' ' + name with BOS stripped and the trailing EOS kept
    (trie.py:25-36) — multi-piece names included."""
    hf = adapter.hf
    for name in ENTS + RELS:
        expect = hf(" " + name)["input_ids"][1:]
        assert adapter.encode(name)[1:] == expect
        assert expect[-1] == adapter.eos_token_id
    # multi-piece check: a long name really is several pieces
    assert len(adapter.encode_pieces("Albert Einstein")) >= 4


class GrammarMockScorer:
    """Deterministic pseudo-random logits over the allowed set — no
    knowledge of the id space, so any grammar violation would surface."""

    def context(self, text):
        import zlib

        return zlib.crc32(text.encode())

    def advance(self, ctx, ptr, token):
        return ptr

    def score(self, ctx, tokens, state, allowed, ptr=None):
        import zlib

        step = len(tokens)
        return [
            (zlib.crc32(b"%d|%d|%d" % (ctx, step, t)) % 997) / 100.0
            for t in allowed
        ]


def test_constrained_beam_search_in_bpe_space(adapter):
    """Full decode loop in the fake-BPE id space: every finished beam is
    a well-formed linearization whose subject/object are catalog entities
    and whose relation is a catalog relation — proving TagCodes, the
    multi-piece trie cursor, and the EOS→'<' swap all operate in the
    model tokenizer's id space (the contract the HF path relies on)."""
    codes = TagCodes(adapter)
    ent_t = trie_from_names(ENTS, adapter)
    rel_t = trie_from_names(RELS, adapter)
    scorer = GrammarMockScorer()
    n_finished = 0
    for text in [
        "Albert Einstein was born in Zurich.",
        "the photon paper",
        "Mileva Maric married Albert Einstein in Switzerland",
    ]:
        beams = generate_for_text(
            text, scorer, adapter, codes, ent_t, rel_t,
            num_beams=3, max_length=64,
        )
        assert beams
        for b in beams:
            if b["log_prob"] <= INVALID_LOG_PROB:
                continue
            if b["text"] == "":
                continue  # legal zero-triple stop (EOS in status OB)
            n_finished += 1
            triples = parse_linearization(b["text"])
            assert triples, b["text"]
            for s, r, o in triples:
                assert s in ENTS and o in ENTS, (s, o)
                assert r in RELS, r
    assert n_finished >= 3


def test_bos_first_in_bpe_space(adapter):
    """bos_first forces the adapter's BOS id as the first generated token
    (reference bos_as_first_token_generated)."""
    codes = TagCodes(adapter)
    ent_t = trie_from_names(ENTS, adapter)
    rel_t = trie_from_names(RELS, adapter)
    from genie_spark.constraints import DecodeState

    st = DecodeState(codes, ent_t, rel_t, bos_first=True)
    assert st.allowed() == [adapter.bos_token_id]
    st.push(adapter.bos_token_id)
    assert st.allowed() == [codes.lt, codes.eos]


# ---------------------------------------------------------------------------
# stack-factory plumbing through the distributed pipeline
# ---------------------------------------------------------------------------


def test_toy_bpe_stack_runs_distributed(spark):
    """The HF-shaped stack (HFTokenizerAdapter over a BPE tokenizer,
    tries + TagCodes in its id space) must run through the DISTRIBUTED
    mapInPandas pipeline exactly as the real checkpoint path would:
    outputs match the driver-side twin of the same stack, every emitted
    name is catalog-closed, and the result is partition-invariant."""
    from genie_spark.pipeline import GenieExtractor
    from genie_spark.toy_bpe import toy_bpe_stack_factory

    texts = [
        "Albert Einstein was born in Zurich.",
        "Mileva Maric married Albert Einstein in Switzerland.",
        "the photon paper came from Zurich.",
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["input"])
    ex = GenieExtractor(
        spark, ENTS, RELS, num_beams=3, stack_factory=toy_bpe_stack_factory
    )
    out = {r["input"]: r for r in ex.transform(df).collect()}

    # driver-side twin of the identical stack
    payload = {"ent_names": sorted(set(ENTS)), "rel_names": sorted(set(RELS))}
    tok, codes, ent_t, rel_t, scorer = toy_bpe_stack_factory(payload)
    for t in texts:
        beams = generate_for_text(
            t, scorer, tok, codes, ent_t, rel_t, num_beams=3
        )
        assert [(b["text"], b["log_prob"]) for b in beams] == [
            (b["text"], b["log_prob"]) for b in out[t]["beams"]
        ], t
        for s, r, o in parse_linearization(out[t]["prediction"] or ""):
            assert s in ENTS and o in ENTS and r in RELS

    rep = {r["input"]: r["prediction"] for r in ex.transform(df.repartition(7)).collect()}
    assert rep == {t: out[t]["prediction"] for t in texts}


def test_adapter_decode_strips_only_0x20(adapter):
    """decode() must normalize with strip(" "), never bare strip(): Spark's
    trim removes only 0x20, so a BPE decode emitting leading/trailing
    tab/NBSP must keep those bytes to stay byte-identical with the
    Column-side convention (the round-3 twin-divergence rule)."""

    class HostileDecodeBPE(FakeBPETokenizer):
        def decode(self, ids, skip_special_tokens=True):
            return "\t\xa0 " + super().decode(ids, skip_special_tokens) + " \xa0\t"

    hostile = HFTokenizerAdapter(HostileDecodeBPE(ENTS + RELS))
    ids = hostile.encode("Zurich")
    got = hostile.decode(ids)
    assert got.startswith("\t\xa0") and got.endswith("\xa0\t"), repr(got)
    assert got.strip(" \t\xa0") == "Zurich", repr(got)
    # and the normal path still yields the bare surface form
    assert adapter.decode(adapter.encode("Zurich")) == "Zurich"


def test_cache_key_separates_bound_checkpoints(spark):
    """The worker-cache key hashes the pickled stack factory, so two
    extractors over one catalog that differ only in the checkpoint bound
    into hf_stack_factory get different keys, and equal factories the
    same key. Driver-side only: no factory runs."""
    from genie_spark.pipeline import GenieExtractor, hf_stack_factory
    from genie_spark.toy_bpe import toy_bpe_stack_factory

    def key(factory):
        ex = GenieExtractor(spark, ENTS, RELS, stack_factory=factory)
        return ex._bc.value["cache_key"]

    def hf(checkpoint):
        return partial(hf_stack_factory, checkpoint=checkpoint, device="cpu")

    ka, kb = key(hf("a")), key(hf("b"))
    assert ka[:3] == kb[:3], "same catalog"
    assert ka != kb
    assert key(hf("a")) == ka
    assert key(toy_bpe_stack_factory) == key(toy_bpe_stack_factory)
    assert key(toy_bpe_stack_factory) != key(hf("a"))


def test_stacks_sharing_a_catalog_keep_their_own_output(spark):
    """The default and the toy-BPE stack over the SAME catalog, run in
    turn through one Spark session on one partition (so reused Python
    workers see both keys): each run equals the driver-side twin of its
    own factory, and the two stacks' beams differ, so a worker serving
    the other stack's cached build would fail."""
    from genie_spark.pipeline import GenieExtractor, default_stack_factory
    from genie_spark.toy_bpe import toy_bpe_stack_factory

    texts = [
        "Albert Einstein was born in Zurich.",
        "Mileva Maric married Albert Einstein in Switzerland.",
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["input"]).repartition(1)
    payload = {"ent_names": sorted(set(ENTS)), "rel_names": sorted(set(RELS))}

    def beams(rows):
        return {t: [(b["text"], b["log_prob"]) for b in bs] for t, bs in rows}

    twins = {}
    for factory in (default_stack_factory, toy_bpe_stack_factory):
        tok, codes, ent_t, rel_t, scorer = factory(payload)
        twins[factory] = beams(
            (t, generate_for_text(t, scorer, tok, codes, ent_t, rel_t, num_beams=2))
            for t in texts
        )
    assert twins[default_stack_factory] != twins[toy_bpe_stack_factory]
    for factory in (default_stack_factory, toy_bpe_stack_factory,
                    default_stack_factory):
        ex = GenieExtractor(spark, ENTS, RELS, num_beams=2, stack_factory=factory)
        got = beams((r["input"], r["beams"]) for r in ex.transform(df).collect())
        assert got == twins[factory], factory.__name__
