"""Constrained beam-search decoder with a pluggable scorer.

This is the single-process core of the generation operator — the same code
runs (a) standalone on the driver as the *reference oracle* for parity
tests and (b) inside the Arrow-batched ``mapInPandas`` UDF on executors
(see pipeline.py). Per-document decoding has no cross-document state, so
output is bit-identical at any parallelism level (the two-cluster-size
invariant, BASELINE.md).

Decoding semantics mirror the reference run configuration
(reference: genie/models/genie_base_pl.py:497-542 and
configs/model/inference/default.yaml:5-18): beam search with
``num_return_sequences = num_beams``; beams that hit the length cap
unfinished are marked invalid with log_prob = -1e9 so the top-valid-beam
filter (genie_base_pl.py:229-239) can drop them. ``length_penalty`` and
``bos_first`` reproduce the reference run configuration (length_penalty =
1.0, bos_as_first_token_generated = true); the deterministic-scorer
pipeline defaults to length_penalty = 0 (raw cumulative log-probs), where
a length-normalized score would degenerately favor padding with duplicate
triples.

Scorers:

* :class:`DeterministicScorer` — a seeded, text-aware stand-in (this
  sandbox has no torch/transformers): tokens that appear in the input text
  are strongly preferred (so emitted triples track the document's
  mentions) and EOS becomes attractive once ≥1 triple is complete. Fully
  deterministic given (text, catalog).
* :class:`HFSeq2SeqScorer` — the production path: a HuggingFace
  encoder-decoder (the GenIE BART checkpoint) scoring next tokens on GPU.
  Code-complete behind an import guard; raises if transformers is absent.
"""

from __future__ import annotations

import math
import zlib
from bisect import bisect_left
from dataclasses import dataclass
from typing import List, Optional, Sequence, Tuple

from .constraints import OB, DecodeState, FreeDecodeState, TagCodes
from .tokenizer import EOS as EOS_ID
from .tokenizer import WordTokenizer

INVALID_LOG_PROB = -1e9  # unfinished-beam marker (genie_base_pl.py:229-239)


@dataclass
class Beam:
    score: float  # cumulative log-prob (un-normalized)
    tokens: List[int]
    state: DecodeState
    log_prob: float = 0.0  # length-normalized, set at finalization
    ptr: int = 0  # scorer alignment cursor, advanced incrementally per push


class DeterministicScorer:
    """Deterministic text-aware next-token logits: a monotone copy
    mechanism. Content tokens that continue a left-to-right scan of the
    document score highest (earlier matches preferred), so the emitted
    triple follows the sentence's subject–relation–object order. No learned
    weights; pure function of (text, prefix)."""

    COPY_BONUS = 8.0
    WEAK_BONUS = 1.0
    POS_DECAY = 0.05
    EOS_READY_BONUS = 8.0
    EOS_EARLY_PENALTY = -8.0
    # before the first triple completes, stopping is near-forbidden — the
    # model's job is to emit at least one fact when any is extractable
    EOS_NO_TRIPLE_PENALTY = -24.0
    # free-generation only (state.is_free): what a model trained on the
    # linearization format internalizes — follow the tag grammar, close
    # each field after ~a mention's worth of tokens. CLOSE_NAME_BONUS sits
    # BELOW WEAK_BONUS on purpose: with the doc consumed mid-field, the
    # model hallucinates previously-seen tokens into the field (weak 1.0
    # beats close 0.5) rather than emitting empty fields — the ungrounded-
    # output failure mode free generation exhibits in the paper's
    # constrained-vs-free comparison. Gated so the constrained path's
    # logits stay bit-identical.
    GRAMMAR_BONUS = 8.0
    CLOSE_NAME_BONUS = 0.5

    def __init__(self, tokenizer: WordTokenizer):
        self.tok = tokenizer
        c = tokenizer.piece2id
        from .tokenizer import TAG_WORDS

        self.structural = frozenset(
            [c["<"], c[">"], *(c[w] for w in TAG_WORDS)]
        )
        # token id → b"%d" bytes, precomputed once: the tiebreak crc in
        # score() runs once per candidate per step (the hot path)
        self._tok_bytes = [b"%d" % i for i in range(len(tokenizer))]

    def context(self, text: str):
        from .tokenizer import pieces

        doc_seq: List[int] = []
        for p in pieces(text):
            # credit punctuation-stripped variants so "Zurich." counts as
            # an in-text mention of catalog token "Zurich"
            stripped = p.strip(".,;:!?\"'")
            for cand in (stripped, p):
                tid = self.tok.piece2id.get(cand)
                if tid is not None:
                    doc_seq.append(tid)
                    break
        doc_hash = zlib.crc32(text.encode("utf-8"))
        # token → sorted positions; turns every "first occurrence ≥ ptr"
        # scan from O(doc) into O(log doc)
        positions: dict = {}
        for i, t in enumerate(doc_seq):
            positions.setdefault(t, []).append(i)
        return doc_seq, positions, doc_hash

    @staticmethod
    def _next_at(positions: dict, tok: int, ptr: int) -> int:
        """First position of tok at or after ptr, else -1."""
        pos = positions.get(tok)
        if not pos:
            return -1
        j = bisect_left(pos, ptr)
        return pos[j] if j < len(pos) else -1

    def advance(self, ctx, ptr: int, token: int) -> int:
        """One step of the greedy monotone doc alignment — the left fold
        beam_search threads through each beam incrementally (O(1) amortized
        per step vs re-scanning the whole prefix per score call, the
        reference's O(len²) shape, ie_prefix_constraints.py:149-155)."""
        if token in self.structural or token == EOS_ID:
            return ptr
        _, positions, _ = ctx
        hit = self._next_at(positions, token, ptr)
        return hit + 1 if hit >= 0 else ptr

    def _pointer(self, ctx, tokens: Sequence[int]) -> int:
        """Full-prefix fold of :meth:`advance` (kept as the test oracle for
        the incremental cursor)."""
        ptr = 0
        for t in tokens:
            ptr = self.advance(ctx, ptr, t)
        return ptr

    def score(
        self,
        ctx,
        tokens: Sequence[int],
        state: DecodeState,
        allowed: Sequence[int],
        ptr: Optional[int] = None,
    ) -> List[float]:
        doc_seq, positions, doc_hash = ctx
        step = len(tokens)
        codes = state.codes
        if ptr is None:
            ptr = self._pointer(ctx, tokens)
        exhausted = ptr >= len(doc_seq)
        # crc32(prefix + suffix) == crc32(suffix, crc32(prefix)): hash the
        # per-step prefix once, continue per candidate — same bits, one
        # format+crc per candidate instead of the whole key. Locals hoisted
        # (this loop runs once per candidate per step — the hot path).
        prefix_crc = zlib.crc32(b"%d|%d|" % (doc_hash, step))
        crc32 = zlib.crc32
        structural = self.structural
        eos, lt, status_ob = codes.eos, codes.lt, state.status == OB
        no_triple = state.triples_done == 0
        copy_b, decay, weak = self.COPY_BONUS, self.POS_DECAY, self.WEAK_BONUS
        get_pos = positions.get
        tok_bytes = self._tok_bytes
        # free-generation features (state.is_free, FreeDecodeState): the
        # grammar is not enforced by the allowed set, so the scorer plays
        # the role a trained model would — follow the tag grammar and
        # close each field after a short mention. All of these branches
        # are dead in constrained mode (free is False, and phase-1/2
        # constrained steps have singleton allowed sets anyway), keeping
        # the constrained logits bit-identical.
        free = getattr(state, "is_free", False)
        if free:
            phase = state.phase
            tag_tok = codes.tags[state.status]
            gt_tok = codes.gt
            grammar_b, close_b = self.GRAMMAR_BONUS, self.CLOSE_NAME_BONUS
            # a field closes once it holds ~a mention (2 tokens); the
            # +1.0 puts the close decision above any copy bonus + noise
            close_ready = state.name_len >= 2
        out = []
        append = out.append
        for t in allowed:
            # stable tiebreak noise in [0, 0.1)
            logit = (crc32(tok_bytes[t], prefix_crc) % 1024) / 10240.0
            if t == eos:
                # stop once the doc's copyable content is consumed — but
                # never before at least one complete triple is out
                if no_triple:
                    logit += self.EOS_NO_TRIPLE_PENALTY
                else:
                    logit += self.EOS_READY_BONUS if exhausted else self.EOS_EARLY_PENALTY
            elif free and phase == 1:
                if t == tag_tok:
                    logit += grammar_b
            elif free and phase == 2:
                if t == gt_tok:
                    logit += grammar_b
            elif t == lt and status_ob:
                if free:
                    # opening a triple must outbid copying stray content
                    # between triples (copy_b + max noise < +9); once a
                    # triple is out and the doc is consumed, defer to EOS
                    if no_triple or not exhausted:
                        logit += grammar_b + 1.0
                else:
                    # open another triple while copyable content remains
                    logit += 0.0 if exhausted else self.EOS_READY_BONUS - 2.0
            elif free and t == lt:
                # in-name close decision (status S/R/O, phase 0)
                if close_ready:
                    logit += grammar_b + 1.0
                elif exhausted:
                    logit += close_b
            elif t not in structural:
                pos = get_pos(t)
                if pos:
                    j = bisect_left(pos, ptr)
                    if j < len(pos):
                        logit += copy_b - decay * (pos[j] - ptr)
                    else:
                        logit += weak
            append(logit)
        return out


class HFSeq2SeqScorer:  # pragma: no cover - needs torch/transformers
    """GPU production scorer: wraps a HF encoder-decoder checkpoint.

    Loaded once per executor inside the mapInPandas iterator UDF; the
    forward pass scores all beams of a batch in one tensor op, exactly like
    the reference's ``model.generate`` inner loop (genie_base_pl.py:497-505)
    but with our incremental constraint state supplying the masks.

    ID-SPACE CONTRACT: this scorer only works inside a stack built by
    ``pipeline.hf_stack_factory`` — TagCodes and both tries are derived
    from THIS model's tokenizer through hf_adapter.HFTokenizerAdapter, so
    the ``tokens``/``allowed`` ids arriving here are valid
    decoder_input_ids / vocab indices for the checkpoint. Feeding it
    WordTokenizer-space ids would index the wrong logits; the factory is
    the only constructor path the pipeline exposes.
    """

    def __init__(self, model_name_or_path: str, device: str = "cuda"):
        try:
            import torch  # noqa: F401
            from transformers import AutoModelForSeq2SeqLM, AutoTokenizer
        except ImportError as e:
            raise NotImplementedError(
                "HFSeq2SeqScorer requires torch+transformers (production "
                "cluster path); this sandbox uses DeterministicScorer."
            ) from e
        self.tokenizer = AutoTokenizer.from_pretrained(model_name_or_path)
        self.model = AutoModelForSeq2SeqLM.from_pretrained(model_name_or_path)
        self.model.eval().to(device)
        self.device = device
        # BART starts decoding from </s> (decoder_start_token_id == eos);
        # honor the checkpoint's config rather than assuming
        start = getattr(self.model.config, "decoder_start_token_id", None)
        self.decoder_start_token_id = (
            start if start is not None else self.tokenizer.eos_token_id
        )

    def context(self, text: str):
        import torch

        enc = self.tokenizer(
            text, max_length=256, truncation=True, return_tensors="pt"
        ).to(self.device)
        with torch.no_grad():
            return self.model.get_encoder()(**enc)

    def advance(self, ctx, ptr, token):
        return ptr  # no alignment cursor; the transformer attends itself

    def score(self, ctx, tokens, state, allowed, ptr=None):
        import torch

        # tokens are HF-space ids (hf_stack_factory contract); prepend the
        # checkpoint's decoder start token, as the reference's generate()
        # does implicitly. With bos_first=True the constraint state forces
        # BOS as the first *generated* token (ie_prefix_constraints.py:
        # 183-184), reproducing the [eos, bos, ...] target framing.
        ids = torch.tensor([[self.decoder_start_token_id, *tokens]], device=self.device)
        with torch.no_grad():
            logits = self.model(
                encoder_outputs=ctx, decoder_input_ids=ids
            ).logits[0, -1]
        return logits[list(allowed)].tolist()


def free_vocab_ids(tokenizer) -> List[int]:
    """Allowed-id list for free (unconstrained) generation: every vocab id
    except the suppressed specials (pad/bos/unk) — EOS stays in, it is how
    a beam finishes. Mirrors HF ``generate``'s suppressed-specials
    convention for the reference's ``free_generation=true`` path
    (genie_base_pl.py:92-94). Compute once per worker and share across
    rows (pipeline does); the list is read-only by contract."""
    drop = {
        getattr(tokenizer, "pad_token_id", None),
        getattr(tokenizer, "bos_token_id", None),
        getattr(tokenizer, "unk_token_id", None),
    }
    return [i for i in range(len(tokenizer)) if i not in drop]


def _log_softmax(logits: Sequence[float]) -> List[float]:
    m = max(logits)
    exp = math.exp
    # list comp + sum keeps the exact left-to-right summation order of the
    # earlier generator form — bit-identical outputs, less iterator overhead
    z = math.log(sum([exp(x - m) for x in logits]))
    return [(x - m) - z for x in logits]


def beam_search(
    ctx,
    scorer,
    codes: TagCodes,
    entities_trie,
    relations_trie,
    num_beams: int = 2,
    max_length: int = 96,
    length_penalty: float = 0.0,
    bos_first: bool = False,
    num_return_sequences: Optional[int] = None,
    free_vocab: Optional[Sequence[int]] = None,
) -> List[Beam]:
    """Constrained beam search; returns the top ``num_return_sequences``
    (default: ``num_beams``) beams sorted by (optionally
    length-normalized) log-prob desc, deterministic tiebreak on tokens.
    ``num_return_sequences < num_beams`` keeps the full beam width during
    search and trims only the returned list — the reference's demo
    configuration (num_beams=10, num_return_sequences=2; Demo.ipynb /
    hf_generation_params, genie_base_pl.py:453-455).

    ``length_penalty`` is the HF/reference normalization (default.yaml:9
    sets 1.0; genie_base_pl.py:497-505): a finished beam's ranking score
    is cumulative_log_prob / len(tokens)**length_penalty. 0.0 keeps raw
    cumulative scores — the right setting for the deterministic scorer,
    where normalization degenerately favors padding duplicate triples.
    ``bos_first`` forces BOS as the first generated token
    (ie_prefix_constraints.py:183-184).

    FREE GENERATION: pass ``entities_trie=None`` AND ``relations_trie=None``
    plus ``free_vocab`` (see :func:`free_vocab_ids`) to run UNconstrained —
    the reference's ``free_generation=true`` path (genie_base_pl.py:92-94:
    tries only load when constrained; model.sample runs with no
    constraint fn; genie_base_hf.py:1-36 is that baseline). Any
    non-special token is allowed at every step; the output need not be a
    well-formed linearization and emitted names need not be catalog
    entries."""

    def norm(score: float, n_tokens: int) -> float:
        if length_penalty == 0.0 or n_tokens == 0:
            return score
        return score / (n_tokens**length_penalty)

    if entities_trie is None or relations_trie is None:
        if entities_trie is not None or relations_trie is not None:
            raise ValueError(
                "free generation requires BOTH tries to be None (got one)"
            )
        if free_vocab is None:
            raise ValueError(
                "free generation (tries=None) requires free_vocab — see "
                "decode.free_vocab_ids"
            )
        state0 = FreeDecodeState(codes, free_vocab, bos_first)
    else:
        state0 = DecodeState(codes, entities_trie, relations_trie, bos_first)
    live = [Beam(0.0, [], state0)]
    finished: List[Beam] = []
    from heapq import nsmallest

    for _ in range(max_length):
        # candidates as (-cumulative score, token, beam idx): natural tuple
        # order IS the former sort key (-score, tok, bi), so nsmallest
        # replaces a full sort (O(n log k) over the per-step fan-out, which
        # at name-start positions spans every first-piece token of the
        # trie). -(a+b) == (-a)-b bit-exactly in IEEE, so ordering and
        # reconstructed scores are identical to the sorted form.
        cands: List[Tuple[float, int, int]] = []
        append = cands.append
        for bi, b in enumerate(live):
            allowed = b.state.allowed()
            if not allowed:
                continue
            lps = _log_softmax(
                scorer.score(ctx, b.tokens, b.state, allowed, ptr=b.ptr)
            )
            neg = -b.score
            for tok, lp in zip(allowed, lps):
                append((neg - lp, tok, bi))
        if not cands:
            break
        new_live: List[Beam] = []
        for negscore, tok, bi in nsmallest(2 * num_beams, cands):
            score = -negscore
            b = live[bi]
            st = b.state.clone()
            st.push(tok)
            nb = Beam(
                score, b.tokens + [tok], st, ptr=scorer.advance(ctx, b.ptr, tok)
            )
            if st.finished:
                finished.append(nb)
            elif len(new_live) < num_beams:
                new_live.append(nb)
        finished.sort(key=lambda f: (-norm(f.score, len(f.tokens)), f.tokens))
        finished = finished[:num_beams]
        # admissible stop: cumulative scores only decrease as beams grow
        # (log_softmax ≤ 0), so a live beam whose BEST ACHIEVABLE
        # normalized score is already below the worst kept finished score
        # can never win. With length_penalty > 0 and score ≤ 0, the best
        # achievable normalization is at the maximum length (HF's
        # early_stopping=False "is_done" bound).
        if len(finished) >= num_beams:
            bar = norm(finished[-1].score, len(finished[-1].tokens))
            new_live = [
                b
                for b in new_live
                if (norm(b.score, max_length) if b.score <= 0 else b.score) > bar
            ]
        live = new_live
        if not live:
            break
    for b in finished:
        b.log_prob = norm(b.score, len(b.tokens))
    for b in live:  # hit the length cap unfinished → invalid marker
        b.log_prob = INVALID_LOG_PROB
        finished.append(b)
    finished.sort(key=lambda b: (-b.log_prob, b.tokens))
    n_ret = num_beams if num_return_sequences is None else num_return_sequences
    return finished[:n_ret]


def generate_for_text(
    text: str,
    scorer,
    tokenizer: WordTokenizer,
    codes: TagCodes,
    entities_trie,
    relations_trie,
    num_beams: int = 2,
    max_length: int = 96,
    length_penalty: float = 0.0,
    bos_first: bool = False,
    num_return_sequences: Optional[int] = None,
    free_vocab: Optional[Sequence[int]] = None,
) -> List[dict]:
    """One document → beams as [{text, log_prob}], best first. This is the
    reference-oracle entry point; the Spark UDF calls it per row.

    Pass ``entities_trie=None, relations_trie=None`` for free generation
    (see :func:`beam_search`); ``free_vocab`` is derived from the
    tokenizer when not supplied (supply it when calling in a loop to skip
    the per-call rebuild)."""
    ctx = scorer.context(text)
    if entities_trie is None and relations_trie is None and free_vocab is None:
        free_vocab = free_vocab_ids(tokenizer)
    beams = beam_search(
        ctx,
        scorer,
        codes,
        entities_trie,
        relations_trie,
        num_beams,
        max_length,
        length_penalty=length_penalty,
        bos_first=bos_first,
        num_return_sequences=num_return_sequences,
        free_vocab=free_vocab,
    )
    return [
        {"text": tokenizer.decode(b.tokens), "log_prob": b.log_prob} for b in beams
    ]


def sequence_nll(
    text: str,
    target_tokens: Sequence[int],
    scorer,
    tokenizer,
    codes: TagCodes,
    entities_trie,
    relations_trie,
) -> Tuple[float, float, int, float]:
    """A9 — forced scoring of a target token sequence: per-token NLL under
    the scorer's full-vocabulary log-softmax, with the reference's
    label-smoothed combination (label_smoothed_nll_loss,
    genie/models/utils.py:6-54, as driven by validation_step,
    genie_base_pl.py:168-192): nll = Σ −lp(target_t); smooth =
    Σ_t Σ_vocab −lp; loss = (1−ε)·nll + ε/(V−1)·smooth with ε = 0.1,
    both normalized by the token count. The reference computes this only
    inside torch training/validation; here it is an eval-time operator (sequence
    confidence / reranking signal) that any scorer satisfying the
    protocol can drive. Returns (nll_sum, smooth_sum, n_tokens,
    loss_per_token)."""
    ctx = scorer.context(text)
    vocab = list(range(len(tokenizer)))
    # the logits are UNmasked (full vocab, like the reference loss); the
    # DecodeState is threaded along the target only so a state-aware
    # scorer sees the same sequence position it would during generation
    state = DecodeState(codes, entities_trie, relations_trie)
    prefix: List[int] = []
    ptr = 0
    nll = 0.0
    smooth = 0.0
    for t in target_tokens:
        lps = _log_softmax(scorer.score(ctx, prefix, state, vocab, ptr=ptr))
        nll -= lps[t]
        smooth -= sum(lps)
        ptr = scorer.advance(ctx, ptr, t)
        state.push(t)
        prefix.append(t)
    n = len(target_tokens)
    epsilon = 0.1
    eps_i = epsilon / (len(vocab) - 1)
    loss = ((1.0 - epsilon) * nll + eps_i * smooth) / n if n else 0.0
    return nll, smooth, n, loss


def top_valid_prediction(beams: List[dict]) -> Optional[str]:
    """First beam with a finite, non-invalid score, else None
    (reference filter F8, genie_base_pl.py:229-239)."""
    for b in beams:
        lp = b["log_prob"]
        if lp > INVALID_LOG_PROB and not math.isinf(lp):
            return b["text"]
    return None
