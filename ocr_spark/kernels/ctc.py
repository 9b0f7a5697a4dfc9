"""CTC decoding: vectorized greedy best-path + prefix beam search.

Semantics parity (reference citations, behavior only — new implementation):
- ctc_decode contract (blank index 0, greedy or beam strategy, scores
  length-normalized by the valid frame count):
  /root/reference/utils/text/ctc_decoder.py:14-36
- OCR callsite uses beam width 10 and a length-power rescore 0.25:
  /root/reference/models/ocr/base_ocr.py:113-115
- token -> text via a char-level vocab with blank at index 0:
  /root/reference/models/ocr/crnn.py:23,33-38,
  /root/reference/utils/text/tokenizer.py:599-669

Decode semantics (pinned by our own fixtures, FIXTURES.md §3):
- ``logits`` are unnormalized scores (T, V); probabilities are obtained with
  a numerically-stable log-softmax.
- greedy: per-frame argmax over the first ``length`` frames -> collapse
  consecutive repeats -> drop blanks; score = sum of selected per-frame
  log-probs / length.
- beam: standard CTC prefix beam search in log space; score of a prefix is
  log(p_blank + p_nonblank), normalized by length on return.

``decode_batch`` is the extract and recognize stages' one decode, greedy or
batched beam over a whole Arrow chunk; ``ctc_beam_decode`` is the
per-sequence reference the batched beam is tested against.
"""

from __future__ import annotations

import numpy as np

NEG_INF = -np.inf


def log_softmax(logits: np.ndarray, axis: int = -1) -> np.ndarray:
    shifted = logits - logits.max(axis=axis, keepdims=True)
    return shifted - np.log(np.exp(shifted).sum(axis=axis, keepdims=True))


def collapse_repeats_drop_blank(path: np.ndarray, blank: int = 0) -> list[int]:
    """Best-path collapse: merge consecutive duplicates, then remove blanks."""
    if len(path) == 0:
        return []
    keep = np.ones(len(path), dtype=bool)
    keep[1:] = path[1:] != path[:-1]
    collapsed = path[keep]
    return collapsed[collapsed != blank].astype(np.int64).tolist()


def pad_batch(jobs: list, feat_dim: int):
    """Zero-pad variable-length (T_i, V) arrays into one (N, T_max, V) batch
    plus a lengths vector (the reference's pad_batch, base_ocr.py:210-211).
    Shared by the extract, recognize, and attention decode stages."""
    if not jobs:
        return np.zeros((0, 1, feat_dim)), np.zeros((0,), dtype=np.int64)
    t_max = max(j.shape[0] for j in jobs)
    batch = np.stack([np.pad(j, ((0, t_max - j.shape[0]), (0, 0))) for j in jobs])
    lengths = np.array([j.shape[0] for j in jobs], dtype=np.int64)
    return batch, lengths


def ctc_greedy_decode_batch(logits: np.ndarray, lengths=None, blank: int = 0):
    """Vectorized greedy decode over a padded (N, T, V) batch.

    Returns (tokens: list[list[int]], scores: np.ndarray of shape (N,)) with
    scores length-normalized (ctc_decoder.py:32).
    """
    logits = np.asarray(logits, dtype=np.float64)
    n, t, _ = logits.shape
    if lengths is None:
        lengths = np.full((n,), t, dtype=np.int64)
    lengths = np.asarray(lengths, dtype=np.int64)

    # argmax(log_softmax(x)) == argmax(x), and at the argmax the shifted
    # logit is exactly 0, so logp[best] == -log(sum(exp(x - max))) — same
    # floating-point ops as full log_softmax + gather (bitwise-identical
    # scores) without materializing the (N, T, V) log-softmax array
    m = logits.max(axis=-1)  # (N, T)
    best = logits.argmax(axis=-1)  # (N, T)
    best_logp = -np.log(np.exp(logits - m[..., None]).sum(axis=-1))

    valid = np.arange(t)[None, :] < lengths[:, None]
    scores = np.where(valid, best_logp, 0.0).sum(axis=1) / np.maximum(lengths, 1)

    tokens = [
        collapse_repeats_drop_blank(best[i, : lengths[i]], blank=blank) for i in range(n)
    ]
    return tokens, scores


def ctc_beam_decode(
    logits: np.ndarray,
    length=None,
    blank: int = 0,
    beam_width: int = 10,
    top_paths: int = 1,
    length_power: float = 0.0,
):
    """CTC prefix beam search over one (T, V) sequence.

    Returns list of (tokens, normalized_score) of length ``top_paths``,
    best first; score is frame-normalized (total logp / T,
    ctc_decoder.py:32). Deterministic: ties broken by prefix
    (lexicographic). ``length_power`` > 0 ranks the FINAL hypotheses by
    total_logp / (len(tokens)+1)**p — the reference's OCR callsite uses
    0.25 (base_ocr.py:115) to soften the short-sequence bias; unlike a
    constant normalization this per-beam key can change which hypothesis
    wins. 0.0 (default) ranks by raw total probability.
    """
    logits = np.asarray(logits, dtype=np.float64)
    t_max = logits.shape[0] if length is None else int(length)
    logp = log_softmax(logits[:t_max])

    # beams: prefix(tuple) -> (log_p_blank, log_p_nonblank)
    beams = {(): (0.0, NEG_INF)}
    for t in range(t_max):
        frame = logp[t]
        new_beams: dict[tuple, tuple[float, float]] = {}

        def _add(prefix, pb, pnb):
            opb, opnb = new_beams.get(prefix, (NEG_INF, NEG_INF))
            new_beams[prefix] = (np.logaddexp(opb, pb), np.logaddexp(opnb, pnb))

        for prefix, (pb, pnb) in beams.items():
            total = np.logaddexp(pb, pnb)
            # blank extends: prefix unchanged
            _add(prefix, total + frame[blank], NEG_INF)
            for c in range(len(frame)):
                if c == blank:
                    continue
                p_c = frame[c]
                if prefix and prefix[-1] == c:
                    # same symbol again merges into the prefix (non-blank
                    # ending); emitting a NEW c needs an intervening blank
                    _add(prefix, NEG_INF, pnb + p_c)
                    _add(prefix + (c,), NEG_INF, pb + p_c)
                else:
                    _add(prefix + (c,), NEG_INF, total + p_c)

        scored = sorted(
            new_beams.items(),
            key=lambda kv: (-np.logaddexp(kv[1][0], kv[1][1]), kv[0]),
        )
        beams = dict(scored[:beam_width])

    norm = max(t_max, 1)
    results = sorted(
        ((np.logaddexp(pb, pnb), prefix) for prefix, (pb, pnb) in beams.items()),
        key=lambda sv: (
            -(sv[0] / (len(sv[1]) + 1) ** length_power if length_power else sv[0]),
            sv[1],
        ),
    )
    return [(list(prefix), score / norm) for score, prefix in results[:top_paths]]


def ctc_beam_decode_batch(
    logits: np.ndarray,
    lengths=None,
    blank: int = 0,
    beam_width: int = 10,
):
    """Prefix beam search vectorized over a padded (N, T, V) batch
    (VERDICT r01 item 9 — beam must not be a per-sequence Python loop).

    Same recurrence as ``ctc_beam_decode`` — per frame each beam yields a
    "stay" candidate (blank extension + repeat-merge) and V-1 "extend"
    candidates; candidates with the SAME prefix merge by logaddexp. Prefix
    identity is tracked with a 64-bit rolling hash (collisions ~2^-64);
    merging runs as sort-by-key + adjacent-pair combining, all (N, B*V)
    numpy ops — the only Python loop is over frames.

    Ties break by candidate order (stable), not lexicographically like the
    reference-shaped per-sequence decoder; identical outputs whenever
    scores are distinct (always true on peaked OCR logits).

    Returns (tokens: list[list[int]], scores: (N,) length-normalized).
    """
    logits = np.asarray(logits, dtype=np.float64)
    n, t_max, v = logits.shape
    if n == 0:
        return [], np.zeros((0,))
    if lengths is None:
        lengths = np.full((n,), t_max, dtype=np.int64)
    lengths = np.asarray(lengths, dtype=np.int64)
    logp = log_softmax(logits)

    B = beam_width
    P = np.uint64(1000003)

    rows = np.arange(n)[:, None]
    # beam state; beams hold DISTINCT prefixes at all times (see merge note)
    pb = np.full((n, B), NEG_INF)
    pnb = np.full((n, B), NEG_INF)
    pb[:, 0] = 0.0
    h = (np.arange(B, dtype=np.uint64)[None, :] + np.uint64(2)) * np.uint64(0x9E3779B97F4A7C15)
    h = np.broadcast_to(h, (n, B)).copy()
    h[:, 0] = 1
    h_prev = np.zeros((n, B), dtype=np.uint64)  # hash of prefix[:-1]; 0 = none
    last = np.full((n, B), -1, dtype=np.int16)
    plen = np.zeros((n, B), dtype=np.int16)
    prefix = np.zeros((n, B, t_max), dtype=np.int16)

    nonblank = np.array([c for c in range(v) if c != blank])
    nb_pos = np.full(v, -1, dtype=np.int64)
    nb_pos[nonblank] = np.arange(len(nonblank))
    V1 = len(nonblank)
    C = B + B * V1

    cand_pb = np.full((n, C), NEG_INF)
    cand_parent = np.broadcast_to(
        np.concatenate([np.arange(B), np.repeat(np.arange(B), V1)])[None, :], (n, C)
    )
    cand_char = np.broadcast_to(
        np.concatenate(
            [np.full(B, -1, dtype=np.int16), np.tile(nonblank.astype(np.int16), B)]
        )[None, :],
        (n, C),
    )

    for t in range(t_max):
        frame = logp[:, t, :]  # (N, V)
        total = np.logaddexp(pb, pnb)  # (N, B)

        # --- candidates -------------------------------------------------
        # stay (first B): blank extension + same-symbol repeat folding
        cand_pb[:, :B] = total + frame[:, blank][:, None]
        cand_pb[:, B:] = NEG_INF
        rep = np.where(
            last >= 0,
            np.take_along_axis(frame, np.maximum(last, 0).astype(np.int64), axis=1),
            NEG_INF,
        )
        stay_pnb = np.where(last >= 0, pnb + rep, NEG_INF)

        # extend (rest): each beam x non-blank symbol; emitting the SAME
        # symbol again requires the blank-ending mass only
        ext = frame[:, nonblank]  # (N, V-1)
        is_rep = last[:, :, None] == nonblank[None, None, :]
        src = np.where(is_rep, pb[:, :, None], total[:, :, None])
        ext_pnb = src + ext[:, None, :]  # (N, B, V-1)

        # --- merge equal prefixes WITHOUT sorting ------------------------
        # Beams hold distinct prefixes, so (a) two stay candidates never
        # collide, (b) two extends never collide (distinct parents), and
        # (c) extend (j, c) collides with stay(b) iff prefix(b) ==
        # prefix(j)+c, i.e. h_prev[b] == h[j] and last[b] == c — at most
        # one j per b. An (N, B, B) parent-hash match finds every merge.
        pm = (h_prev[:, :, None] == h[:, None, :]) & (plen[:, :, None] > 0)
        bi, bb, bj = np.nonzero(pm)
        if len(bi):
            pos = nb_pos[last[bi, bb]]
            stay_pnb[bi, bb] = np.logaddexp(stay_pnb[bi, bb], ext_pnb[bi, bj, pos])
            ext_pnb[bi, bj, pos] = NEG_INF

        cand_pnb = np.concatenate([stay_pnb, ext_pnb.reshape(n, -1)], axis=1)

        # --- top-B selection (argpartition, then ordered refine) ---------
        score = np.logaddexp(cand_pb, cand_pnb)
        part = np.argpartition(-score, B - 1, axis=1)[:, :B]
        part_scores = np.take_along_axis(score, part, axis=1)
        order = np.argsort(-part_scores, axis=1, kind="stable")
        sel = np.take_along_axis(part, order, axis=1)  # (N, B)

        new_pb = np.take_along_axis(cand_pb, sel, axis=1)
        new_pnb = np.take_along_axis(cand_pnb, sel, axis=1)
        par = np.take_along_axis(cand_parent, sel, axis=1)
        ch = np.take_along_axis(cand_char, sel, axis=1)

        new_prefix = prefix[rows, par]
        new_last = last[rows, par]
        new_len = plen[rows, par]
        new_h = h[rows, par]
        new_h_prev = h_prev[rows, par]
        extends = ch != -1
        ei, ej = np.nonzero(extends)
        new_prefix[ei, ej, new_len[ei, ej]] = ch[ei, ej]
        new_last[ei, ej] = ch[ei, ej]
        new_len[ei, ej] += 1
        new_h_prev[ei, ej] = new_h[ei, ej]
        new_h[ei, ej] = new_h[ei, ej] * P + ch[ei, ej].astype(np.uint64) + np.uint64(1)

        # beams must stay DISTINCT prefixes (the merge relies on it): when
        # beam_width exceeds the finite candidates, -inf merged-away
        # duplicates get selected; give them unique sentinel identities so
        # they can never pm-match (and never win — their mass is -inf)
        dead = ~np.isfinite(np.logaddexp(new_pb, new_pnb))
        if dead.any():
            di, dj = np.nonzero(dead)
            sent = (
                np.uint64(0xDEAD0000DEAD0001)
                + np.uint64(t + 1) * np.uint64(0x100000001)
                + dj.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
            )
            new_h[di, dj] = sent
            new_h_prev[di, dj] = 0
            new_len[di, dj] = 0
            new_last[di, dj] = -1

        # sequences already past their valid length keep their state
        active = (t < lengths)[:, None]
        pb = np.where(active, new_pb, pb)
        pnb = np.where(active, new_pnb, pnb)
        h = np.where(active, new_h, h)
        h_prev = np.where(active, new_h_prev, h_prev)
        last = np.where(active, new_last, last)
        plen = np.where(active, new_len, plen)
        prefix = np.where(active[:, :, None], new_prefix, prefix)

    best = np.argmax(np.logaddexp(pb, pnb), axis=1)
    final_scores = np.logaddexp(pb, pnb)[np.arange(n), best] / np.maximum(lengths, 1)
    tokens = [
        prefix[i, best[i], : plen[i, best[i]]].astype(np.int64).tolist()
        for i in range(n)
    ]
    return tokens, final_scores


def decode_batch(jobs: list, vocab: list[str], method: str = "greedy"):
    """Variable-length (T_i, V) logits -> (texts, scores), decoded as one
    padded batch: greedy, or "beam" with the reference's flagship width 10
    (base_ocr.py:113-115), off the default path per SURVEY.md §7 risk 7."""
    if not jobs:
        return [], np.zeros((0,))
    batch, lengths = pad_batch(jobs, len(vocab))
    if method == "beam":
        tokens, scores = ctc_beam_decode_batch(batch, lengths, beam_width=10)
    else:
        tokens, scores = ctc_greedy_decode_batch(batch, lengths)
    return [decode_tokens(t, vocab) for t in tokens], scores


def sanitize_for_vocab(text: str, vocab_index: dict) -> str:
    """Lowercase + map chars outside the vocab to space — the exact visible
    transform of the recognition channel (the CRNN vocab is lowercase, so
    any decode output is too). ONE definition, shared by the extraction
    operator, the recognize stage, and the pages synthesizer's
    by-construction goldens: a corpus with uppercase/exotic chars stays
    byte-identical end to end."""
    return "".join(c if c in vocab_index else " " for c in text.lower())


def encode_text(text: str, vocab_index: dict, *, unknown: int | None = None) -> list[int]:
    """Char-level encode (tokenizer.py:599-669 char path): unknown chars are
    dropped (None) or mapped to ``unknown``. Round-trips with decode_tokens."""
    out = []
    for c in text:
        idx = vocab_index.get(c, unknown)
        if idx is not None:
            out.append(idx)
    return out


def decode_tokens(tokens, vocab, blank: int = 0) -> str:
    """ids -> text via char vocab; blanks/negatives skipped
    (tokenizer.py:599-656 char-level path)."""
    return "".join(vocab[i] for i in tokens if i != blank and 0 <= i < len(vocab))


def make_vocab(chars: str = " abcdefghijklmnopqrstuvwxyz0123456789.,!?-'\"") -> list[str]:
    """Char vocab with the CTC blank at index 0 (crnn.py:23,33-38)."""
    return ["<blank>"] + list(chars)


def synth_logits_for_text(text: str, vocab: list[str], *, repeat: int = 2, gap_blank: bool = True, margin: float = 8.0):
    """Deterministic fixture synthesis (FIXTURES.md §3): emit ``repeat``
    frames per char with an interleaved blank between equal neighbors, so
    collapse-repeats + drop-blank reproduces ``text`` under both greedy and
    beam decode. Returns float32 (T, V) logits."""
    index = {c: i for i, c in enumerate(vocab)}
    frames: list[int] = []
    prev = None
    for c in text:
        idx = index[c]
        if gap_blank and prev == idx:
            frames.append(0)
        frames.extend([idx] * repeat)
        prev = idx
    if not frames:
        frames = [0]
    logits = np.full((len(frames), len(vocab)), -margin / 2.0, dtype=np.float32)
    logits[np.arange(len(frames)), frames] = margin / 2.0
    return logits
