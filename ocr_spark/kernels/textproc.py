"""Text cleaners, sentence splitting, distances, emission filter.

Semantics parity (reference citations, behavior only — new implementation):
- regex cleaners (collapse_whitespace, lowercase, strip, remove/detach
  punctuation, remove_urls):
  /root/reference/utils/text/cleaners.py:83-269
- split_sentences with acronym/quote/enumeration repairs:
  /root/reference/utils/text/text_processing.py:228-296,388-391
- weighted/normalized edit distance (the normalized unweighted case is the
  one used at inference, base_ocr.py:718): /root/reference/utils/text/metrics.py:85-159
- hamming distance: metrics.py:161-180
- text_f1 / exact-match token-bag metrics: metrics.py:188-238
- text emission filter (strip </s>, drop empty / single-word / non-alpha,
  low-score part zeroing, near-duplicate rejection at normalized edit
  distance < 0.2 vs the last k=5 emitted):
  /root/reference/models/ocr/base_ocr.py:679-725

Everything here is plain Python/numpy per Arrow batch. The unweighted
normalized edit-distance maps to Spark's native ``levenshtein(a, b) /
length(b)`` in SQL contexts (SURVEY.md §2.9 F1).
"""

from __future__ import annotations

import collections
import re

import numpy as np

WHITESPACE_RE = re.compile(r"\s+")
URL_RE = re.compile(r"[a-z]+://[\S\n]+")
PUNCTUATION = "_!?.,’“”‚‘—–()[]{}:;'\"`+-*/^=\\<>&#$%@¿′″·§~"


def finditer_closed(pattern, last_closer, data, self_closing=None):
    """``pattern.finditer(data)`` in linear time, for a markup pattern each
    of whose matches ends with a closing tag or is a self-closing tag
    that ``self_closing`` matches. ``last_closer`` (``.*<closer>`` with
    DOTALL) finds the end of the last closing tag; past it no lazy
    ``open.*?close`` span can match, so only ``self_closing`` is tried
    there. Unbounded, each unclosed opener scanned to the end of the
    data, which made n of them cost O(n^2). The matches are the same."""
    m = last_closer.match(data)
    end = m.end() if m else 0
    yield from pattern.finditer(data, 0, end)
    if self_closing is not None:
        yield from self_closing.finditer(data, end)


def collapse_whitespace(text: str) -> str:
    return WHITESPACE_RE.sub(" ", text)


def lowercase(text: str) -> str:
    return text.lower()


def strip(text: str, lstrip: bool = True, rstrip: bool = True) -> str:
    if lstrip and rstrip:
        return text.strip()
    if lstrip:
        return text.lstrip()
    if rstrip:
        return text.rstrip()
    return text


def remove_urls(text: str) -> str:
    return URL_RE.sub("", text)


def remove_punctuation(text: str, punctuation: str = PUNCTUATION) -> str:
    return "".join(c for c in text if c not in punctuation)


def detach_punctuation(text: str, punctuation: str = PUNCTUATION) -> str:
    for punct in punctuation:
        text = text.replace(punct, " {} ".format(punct))
    return text.strip()


# ---------------------------------------------------------------- sentences

EOS_CHARS = (
    "\n\n",
    r"\.\.\.\s*",
    r"\?\s*",
    r"\!\s*",
    r"(?<!\.[a-zA-Z]{1})\.\s+",
    r"\n(?=\s*[-\*\dA-Z])",
)
_CLOSING_PUNCTUATION = {")": "(", "]": "[", "}": "{", '"': '"', "'": "'", "`": "`"}


def split_and_join(text: str, pattern):
    """re.split keeping the separators at odd indexes (text_processing.py:281-296)."""
    if isinstance(pattern, str):
        pattern = (pattern,)
    return re.split(
        "({})".format("|".join(re.escape(p) if "\\" not in p else p for p in pattern)), text
    )


def _is_end_of_quote(sentences, sent) -> bool:
    if not sentences or not sent.strip():
        return False
    prev, head = sentences[-1], sent.strip().split()[0]
    return all(c in _CLOSING_PUNCTUATION and _CLOSING_PUNCTUATION[c] in prev for c in head)


def split_sentences(text: str, eos_pattern=EOS_CHARS, strip_sents: bool = False):
    """Regex EOS split with acronym / quote / enumeration repair
    (text_processing.py:228-279). Sentences keep their EOS characters."""
    splitted = split_and_join(text.strip(), eos_pattern)

    i, sentences = 0, []
    while i < len(splitted):
        sent = splitted[i]
        if i % 2 == 1 or _is_end_of_quote(sentences, sent):
            if sentences:
                sentences[-1] += sent
            i += 1
            continue
        if not sent.strip():
            i += 1
            continue
        while i + 2 < len(splitted) and splitted[i].isdigit() and splitted[i + 1].strip() == ".":
            sent = sent + splitted[i + 1] + splitted[i + 2]
            i += 2
        sentences.append(sent)
        i += 1

    if strip_sents:
        sentences = [sent.strip(" ") for sent in sentences]
    return sentences


# -------------------------------------------------------------- chunking

_SENT_SPLIT_PATTERN = (r",(?!\d)", ": ", r"\(.*\)")


def merge_texts(texts, max_length, max_overlap=0, max_overlap_len=0.2, *, tokens=None, tokenizer=None):
    """Greedy merge of text parts into <= max_length chunks with optional
    start-overlap windows (text_processing.py:148-226).

    Returns (chunks, chunk_tokens, merged_indices)."""
    if isinstance(max_overlap_len, float):
        max_overlap_len = int(max_overlap_len * max_length)
    if tokenizer is None:
        tokenizer = list
    if tokens is None:
        tokens = [tokenizer(txt) for txt in texts]

    texts = [txt.strip(" ") for txt in texts]

    merged_texts, merged_tokens, merged_indices = [[texts[0]]], [[tokens[0]]], [[0]]
    merged_len = len(tokens[0])
    for i, (text, tok) in enumerate(zip(texts[1:], tokens[1:]), start=1):
        if merged_len + len(tok) <= max_length:
            merged_texts[-1].append(text)
            merged_tokens[-1].append(tok)
            merged_indices[-1].append(i)
            merged_len += len(tok)
        else:
            merged_texts.append([text])
            merged_tokens.append([tok])
            merged_indices.append([i])
            merged_len = len(tok)

            if max_overlap > 0 and len(tok) < max_length:
                _max_overlap_len = min(max_overlap_len, max_length - len(tok))
                overlap_len = 0
                for j in range(1, 1 + min(max_overlap, len(merged_texts[-2]))):
                    if overlap_len + len(merged_tokens[-2][-j]) > _max_overlap_len:
                        break
                    merged_texts[-1].insert(0, merged_texts[-2][-j])
                    merged_tokens[-1].insert(0, merged_tokens[-2][-j])
                    merged_indices[-1].insert(0, merged_indices[-2][-j])
                    overlap_len += len(merged_tokens[-2][-j])
                    merged_len += len(merged_tokens[-2][-j])

    result_texts = [" ".join(t) for t in merged_texts]
    result_tokens = []
    for list_tokens in merged_tokens:
        result_tokens.append([])
        for toks in list_tokens:
            result_tokens[-1].extend(toks)
    return result_texts, result_tokens, merged_indices


def split_text(
    text,
    max_length,
    *,
    tokens=None,
    tokenizer=None,
    eos_pattern=EOS_CHARS,
    sent_pattern=_SENT_SPLIT_PATTERN,
    tolerance=0,
    sent_tolerance=0,
    merge=True,
    err_mode="skip",
    return_tokens=False,
):
    """Recursive max-length chunking: paragraphs -> sentences ->
    sub-sentences -> words (text_processing.py:34-145)."""
    if tokenizer is None:
        tokenizer = list
    if isinstance(tolerance, float):
        tolerance = int(tolerance * max_length)
    if isinstance(sent_tolerance, float):
        sent_tolerance = int(sent_tolerance * max_length)
    max_text_length = max_length + tolerance
    max_sent_length = max_length + sent_tolerance

    if tokens is None:
        tokens = tokenizer(text)
    if len(tokens) <= max_text_length:
        return [text] if not return_tokens else ([text], [tokens])

    splitted = split_sentences(text, eos_pattern)
    sent_tokens = [tokenizer(sent) for sent in splitted]

    result_text, result_tokens = [splitted[0]], [sent_tokens[0]]
    for split, tok in zip(splitted[1:], sent_tokens[1:]):
        if len(tok) <= max_sent_length:
            result_text.append(split)
            result_tokens.append(tok)
        elif sent_pattern:
            sub_text, sub_tok = split_text(
                split,
                max_sent_length,
                tokens=tok,
                tokenizer=tokenizer,
                eos_pattern=sent_pattern,
                sent_pattern=" " if sent_pattern != " " else None,
                err_mode=err_mode,
                return_tokens=True,
            )
            result_text.extend(sub_text)
            result_tokens.extend(sub_tok)
        elif err_mode == "error":
            raise RuntimeError(f"It was not possible to split `{split}`")
        elif err_mode in ("ignore", "skip"):
            continue
        elif err_mode == "keep":
            result_text.append(split)
            result_tokens.append(tok)

    if merge:
        result_text, result_tokens, _ = merge_texts(
            result_text, max_text_length, tokens=result_tokens, tokenizer=tokenizer
        )
    return result_text if not return_tokens else (result_text, result_tokens)


# ---------------------------------------------------------------- distances


def edit_distance(
    hypothesis,
    truth,
    partial: bool = False,
    deletion_cost: dict | None = None,
    insertion_cost: dict | None = None,
    replacement_cost: dict | None = None,
    default_del_cost: float = 1,
    default_insert_cost: float = 1,
    default_replace_cost: float = 1,
    normalize: bool = True,
    return_matrix: bool = False,
):
    """Weighted Levenshtein with optional partial alignment (metrics.py:85-159)."""
    deletion_cost = deletion_cost or {}
    insertion_cost = insertion_cost or {}
    replacement_cost = replacement_cost or {}

    matrix = np.zeros((len(hypothesis) + 1, len(truth) + 1))
    deletion_costs = np.array([0] + [deletion_cost.get(h, default_del_cost) for h in hypothesis])
    insertion_costs = np.array([insertion_cost.get(t, default_insert_cost) for t in truth])

    matrix[:, 0] = np.cumsum(deletion_costs)
    if not partial:
        matrix[0, :] = np.cumsum([0] + [insertion_cost.get(t, default_insert_cost) for t in truth])

    truth_array = truth if not isinstance(truth, str) else np.array(list(truth))
    for i in range(1, len(hypothesis) + 1):
        deletions = matrix[i - 1, 1:] + deletion_costs[i]
        matches = np.array(
            [replacement_cost.get(hypothesis[i - 1], {}).get(t, default_replace_cost) for t in truth]
        )
        matches = matrix[i - 1, :-1] + matches * (truth_array != hypothesis[i - 1])
        min_costs = np.minimum(deletions, matches)
        for j in range(1, len(truth) + 1):
            insertion = matrix[i, j - 1] + insertion_costs[j - 1]
            matrix[i, j] = min(min_costs[j - 1], insertion)

    distance = matrix[-1, -1] if not partial else np.min(matrix[-1, 1:])
    if normalize:
        denom = len(truth) if not partial else len(hypothesis)
        distance = distance / denom if denom else float(distance != 0)

    return distance if not return_matrix else (distance, matrix)


def hamming_distance(hypothesis, truth, replacement_matrix: dict | None = None, normalize: bool = True):
    """metrics.py:161-180; -1 when lengths differ."""
    replacement_matrix = replacement_matrix or {}
    if len(hypothesis) != len(truth):
        return -1
    distance = sum(
        replacement_matrix.get(c1, {}).get(c2, 1) for c1, c2 in zip(hypothesis, truth) if c1 != c2
    )
    if normalize:
        distance = distance / len(truth)
    return distance


def _normalize_text_f1(text: str) -> str:
    text = lowercase(text)
    text = remove_punctuation(text)
    return collapse_whitespace(text).strip()


def text_f1(y_true: str, y_pred: str, normalize: bool = True):
    """Token-bag (EM, F1, precision, recall) (metrics.py:188-238)."""
    if normalize:
        y_true = _normalize_text_f1(y_true)
        y_pred = _normalize_text_f1(y_pred)

    true_tokens = y_true.split()
    pred_tokens = y_pred.split()

    common = collections.Counter(true_tokens) & collections.Counter(pred_tokens)
    nb_same = sum(common.values())
    em = int(y_true == y_pred)

    if len(true_tokens) == 0 or len(pred_tokens) == 0:
        f1 = int(true_tokens == pred_tokens)
        return em, f1, f1, f1
    if nb_same == 0:
        return 0, 0, 0, 0

    precision = 1.0 * nb_same / len(pred_tokens)
    recall = 1.0 * nb_same / len(true_tokens)
    f1 = (2 * precision * recall) / (precision + recall)
    return em, f1, precision, recall


# ---------------------------------------------------------- emission filter


def filter_text_result(
    text: str,
    scores=None,
    *,
    reject: set | None = None,
    last_emitted=(),
    threshold: float = 0.0,
    k: int = 5,
    max_dist: float = 0.2,
    skip_non_alpha: bool = True,
    skip_single_word: bool = True,
):
    """Emission gate for one OCR paragraph (base_ocr.py:679-725).

    Returns (keep: bool, cleaned_text: str). ``reject`` (if provided) is
    updated in place when a near-duplicate is rejected, mirroring the
    reference's stream state.
    """
    text = text.replace("</s>", "").strip()
    if not text:
        return False, text
    if skip_single_word and " " not in text:
        return False, text
    if skip_non_alpha and not any(c.isalpha() for c in text):
        return False, text
    if reject is not None and text in reject:
        return False, text

    if threshold != 0.0 and scores is not None and np.any(np.asarray(scores) <= threshold):
        scores = np.asarray(scores)
        if np.all(scores <= threshold):
            return False, text
        parts = text.split(" \n")
        text = " \n".join(p if s > threshold else "" for p, s in zip(parts, scores)).strip()

    if last_emitted and k:
        for emitted in list(last_emitted)[-k:]:
            dist = edit_distance(emitted, text, normalize=True)
            if dist < max_dist:
                if reject is not None:
                    reject.add(text)
                return False, text

    return True, text
