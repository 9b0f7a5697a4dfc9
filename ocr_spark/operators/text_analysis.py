"""Text-analysis operators over the documents table — all native Column
expressions (JVM-side, whole-stage codegen; no Python in the hot path).

These are the training-data-pipeline operations a 100 TB corpus needs
(driver brief): language-ID (stopword heuristic), quality scoring
(length/token/digit ratios), token counting, document fingerprinting.
Reference analogs: text cleaners (/root/reference/utils/text/cleaners.py:83-269)
and the emission filter's quality gates
(/root/reference/models/ocr/base_ocr.py:679-725).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

# tiny per-language stopword markers; deterministic and SQL-expressible in
# any engine (the DuckDB oracle uses the same LIKE predicates)
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "fr": ("le", "la", "et"),
    "de": ("der", "und", "die"),
    "es": ("el", "los", "que"),
}


def _hits(col: Column, words) -> Column:
    padded = F.concat(F.lit(" "), col, F.lit(" "))
    out = F.lit(0)
    for w in words:
        out = out + F.when(padded.contains(f" {w} "), 1).otherwise(0)
    return out


def lang_scores(text: Column) -> dict[str, Column]:
    return {lang: _hits(text, words) for lang, words in LANG_MARKERS.items()}


def predicted_lang(text: Column) -> Column:
    """argmax over marker hits; on ties the FIRST language (en, fr, de, es
    order) reaching the max wins; zero hits -> 'und'. Pure CASE/greatest
    chain, mirrored exactly by the DuckDB oracle."""
    scores = lang_scores(text)
    best = F.greatest(*scores.values())
    expr = None
    # CASE ordering = first lang reaching the max wins (same CASE in the
    # DuckDB oracle)
    for lang in LANG_MARKERS:  # insertion order
        cond = (scores[lang] == best) & (best > 0)
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def token_count(text: Column) -> Column:
    """Whitespace-run tokenization: multiple spaces/tabs/newlines count as
    one separator; empty/blank text counts 0 tokens."""
    toks = F.split(F.trim(text), r"\s+")
    return F.size(F.filter(toks, lambda x: x != ""))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """length / token / digit / punctuation ratios + a composite score."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count(t)
    n_digits = n_chars - F.length(F.regexp_replace(t, r"[0-9]", ""))
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[\.,;:!\?]", ""))
    n_spaces = n_chars - F.length(F.regexp_replace(t, r" ", ""))
    # ANSI-safe: empty/blank docs are routine at corpus scale and x/0 is a
    # hard job abort under Spark 4 ANSI mode, not a NULL
    avg_tok = F.when(n_tokens > 0, (n_chars - n_spaces) / n_tokens)
    digit_ratio = F.when(n_chars > 0, n_digits / n_chars)
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars)
    return df.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.cast("int").alias("n_tokens"),
        F.round(avg_tok, 4).alias("avg_token_len"),
        F.round(digit_ratio, 4).alias("digit_ratio"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(
            F.when(
                (n_tokens >= 5) & (avg_tok >= 2) & (avg_tok <= 12),
                1.0 - digit_ratio,
            ).otherwise(0.0),
            4,
        ).alias("quality_score"),
    )

def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalized-content fingerprint: md5 of lowercased collapsed text —
    the exact-dedup key (reference analog: predicted-map key by filename,
    base_detector.py:170-207)."""
    from ..functions.text_functions import clean_text_expr

    norm = clean_text_expr(text_col)
    return df.select(
        "doc_id",
        F.md5(norm.cast("binary")).alias("fp"),
        F.length(norm).alias("n_chars_norm"),
    )


def langid(df: DataFrame, text_col: str = "text") -> DataFrame:
    scores = lang_scores(F.col(text_col))
    return df.select(
        "doc_id",
        predicted_lang(F.col(text_col)).alias("pred_lang"),
        *[scores[lang].cast("int").alias(f"hits_{lang}") for lang in LANG_MARKERS],
    )


def repetition_signals(docs: DataFrame) -> DataFrame:
    """Gopher-style within-document repetition quality signals (Rae et al.
    2021 §A1.1 shapes): distinct-word ratio, most-frequent-word fraction,
    most-frequent-2-gram fraction. Highly repetitive pages (boilerplate
    mills, keyword stuffing) score low-distinct / high-top fractions and
    get gated out of training corpora.

    Plan: ONE explode -> two codegen'd groupBy chains (word level, 2-gram
    level) joined on doc_id — both aggregations hash-partition on doc_id
    with map-side partial agg; no skew (keys are documents).
    Tokenization = single-space split of trim(text), the corpus convention
    shared with the DuckDB oracle.
    """
    toks = F.split(F.trim(F.col("text")), " ")
    words = docs.select("doc_id", F.explode(toks).alias("w")).where(F.col("w") != "")
    per_word = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    word_stats = per_word.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_words"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_words"),
        F.max("c").cast("long").alias("top_word_count"),
    )

    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    per_gram = (
        docs.select("doc_id", F.explode(grams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    gram_stats = per_gram.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_2grams"),
        F.max("c").cast("long").alias("top_2gram_count"),
    )

    return (
        word_stats.join(gram_stats, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            F.round(F.col("n_distinct_words") / F.col("n_words"), 6).alias(
                "distinct_word_ratio"
            ),
            F.round(F.col("top_word_count") / F.col("n_words"), 6).alias(
                "top_word_frac"
            ),
            F.when(
                F.col("n_2grams") > 0,
                F.round(F.col("top_2gram_count") / F.col("n_2grams"), 6),
            ).alias("top_2gram_frac"),
        )
    )


def readability_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Flesch reading ease + Flesch-Kincaid grade in EXACT integer
    micro-units (single-step BIGINT floor divisions, so the DuckDB
    oracle reproduces every value bit-for-bit — the repo's integer
    quantization contract).  Pure Column program: words and sentence
    segments come from split/filter arrays, per-word syllables fold via
    F.aggregate — zero exchanges, zero Python, whole-stage codegen."""
    text = F.col(text_col)
    words = F.filter(
        F.split(F.regexp_replace(F.lower(text), "[^a-z]+", " "), " "),
        lambda w: w != "",
    )
    sentences = F.greatest(
        F.lit(1),
        F.size(F.filter(F.split(text, "[.!?]+"), lambda s: F.trim(s) != "")),
    ).cast("long")
    n_words = F.size(words).cast("long")
    syll = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.greatest(
            F.lit(1),
            F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), F.lit(0)))
            - (w.endswith("e") & (F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), F.lit(0))) > 1)).cast("int"),
        ).cast("long"),
    )
    d = df.select(
        "doc_id",
        sentences.alias("n_sentences"),
        n_words.alias("n_words"),
        syll.alias("n_syllables"),
    )
    wps = F.expr("1015000 * n_words div n_sentences")
    spw = F.expr("84600000 * n_syllables div n_words")
    fk_wps = F.expr("390000 * n_words div n_sentences")
    fk_spw = F.expr("11800000 * n_syllables div n_words")
    return d.select(
        "doc_id",
        "n_sentences",
        "n_words",
        "n_syllables",
        F.when(F.col("n_words") > 0, F.lit(206835000) - wps - spw)
        .cast("long")
        .alias("flesch_micro"),
        F.when(F.col("n_words") > 0, fk_wps + fk_spw - F.lit(15590000))
        .cast("long")
        .alias("fk_grade_micro"),
    )


# --------------------------------------------------------------------------
# Cavnar-Trenkle n-gram language ID (1994, SDAIR) — langid v2
# --------------------------------------------------------------------------

def _with_letter_grams(df: DataFrame, text_col: str, out_col: str) -> DataFrame:
    """Add ``out_col`` = array of letter bigrams of lower(<text_col>).

    EXPRESSION-SAFETY CONTRACT: every higher-order-function lambda here
    references ONLY its own lambda variables — never a sibling column or
    array attribute.  Catalyst freely re-inlines alias definitions into
    predicates it pushes down (InferFiltersFromGenerate adds
    ``size(grams) > 0`` under any explode of this column, and
    PushPredicateThroughNonJoin substitutes the full expression tree into
    it); interpreted HOF eval then re-evaluates any lambda-internal
    subexpression PER ELEMENT with no loop-invariant hoisting.  A
    previous run-length-encoding form whose lambdas indexed a sibling
    sorted-gram array went quadratic-to-cubic per document after exactly
    that rewrite and hung the suite — see the wall-clock budget test in
    tests/test_ct_langid.py.  With lambda-var-only lambdas, inlining
    costs at most one extra O(L) evaluation per row, never per element.
    """
    chars = "_ct_chars"
    # split('') yields one element per code point; slice+zip_with builds
    # adjacent pairs with O(1) element access (substring(lower(..), i, 2)
    # would rescan the string per gram: O(L) byte-offset walks).
    df = df.withColumn(chars, F.split(F.lower(F.col(text_col)), ""))
    npairs = F.greatest(F.size(F.col(chars)) - 1, F.lit(0))
    # gram filter = both chars in [a-z]: ascii-range checks instead of a
    # per-gram regex ('^[a-z]{2}$') — same set (codepoints 97..122 are
    # exactly a-z), ~20x cheaper than len(text) regex matches per doc.
    return df.withColumn(
        out_col,
        F.filter(
            F.zip_with(
                F.slice(F.col(chars), 1, npairs),
                F.slice(F.col(chars), 2, npairs),
                lambda a, b: F.concat(a, b),
            ),
            lambda g: F.ascii(g).between(97, 122)
            & F.ascii(F.substring(g, 2, 1)).between(97, 122),
        ),
    ).drop(chars)


def ct_profiles(docs: DataFrame, *, top_k: int = 20, text_col: str = "text") -> DataFrame:
    """Per-language rank profile: top_k letter bigrams by (count desc,
    gram asc).  Trained FROM the corpus itself via one bounded
    aggregation; the output is at most n_langs * top_k rows — the
    broadcastable model table.  The explode feeds a hash aggregate whose
    map-side partial combine collapses same-partition (lang, g) rows
    before the exchange, so the shuffle carries ~distinct grams per
    partition (<= 676 per language), not one row per corpus character."""
    g = _with_letter_grams(docs, text_col, "_ct_g")
    cnt = (
        g.select(F.col("lang"), F.explode(F.col("_ct_g")).alias("g"))
        .groupBy("lang", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("g"))
    return (
        cnt.withColumn("lang_rank", F.row_number().over(w))
        .where(F.col("lang_rank") <= top_k)
        .select("lang", "g", "lang_rank")
    )


def ct_classify(
    docs: DataFrame, *, top_k: int = 20, top_m: int = 20, text_col: str = "text"
) -> DataFrame:
    """Cavnar-Trenkle out-of-place classification: rank the document's
    own top_m bigrams, sum |doc_rank - profile_rank| against every
    language profile (missing grams cost the full penalty = top_k), and
    take the argmin language (ties break lexicographically).

    Scale shape: doc-side gram counting is explode -> groupBy(doc_id, g)
    whose map-side partial combine collapses each document's repeated
    grams BEFORE the exchange (a document's exploded rows stay in its
    scan partition), so the shuffle carries doc_id x distinct-gram rows
    (<= 676 per doc), and the top-m rank window partitions on the same
    doc_id key.  The profile and language tables are bounded and
    BROADCAST.  Integer distances — the oracle replays every rank and
    sum exactly."""
    profiles = ct_profiles(docs, top_k=top_k, text_col=text_col)
    g = _with_letter_grams(docs, text_col, "_ct_g")
    dcnt = (
        g.select(
            "doc_id",
            F.col("lang").alias("true_lang"),
            F.explode(F.col("_ct_g")).alias("g"),
        )
        .groupBy("doc_id", "true_lang", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wd = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("g"))
    dg = (
        dcnt.withColumn("doc_rank", F.row_number().over(wd))
        .where(F.col("doc_rank") <= top_m)
        .select("doc_id", "true_lang", "g", "doc_rank")
    )
    plangs = profiles.select(F.col("lang").alias("pred_lang")).distinct()
    prof = profiles.select(
        F.col("lang").alias("pred_lang"), "g", "lang_rank"
    )
    cand = dg.join(F.broadcast(plangs))
    scored = cand.join(F.broadcast(prof), ["pred_lang", "g"], "left")
    dist = scored.groupBy("doc_id", "true_lang", "pred_lang").agg(
        F.sum(
            F.coalesce(
                F.abs(F.col("doc_rank") - F.col("lang_rank")), F.lit(top_k)
            )
        ).alias("distance")
    )
    wb = Window.partitionBy("doc_id").orderBy(F.asc("distance"), F.asc("pred_lang"))
    return (
        dist.withColumn("rk", F.row_number().over(wb))
        .where(F.col("rk") == 1)
        .select("doc_id", "true_lang", "pred_lang", F.col("distance").cast("long").alias("distance"))
    )


#: Unicode script ranges for the mix report — explicit codepoint ranges,
#: not \p{Script} classes, so Java regex (Spark) and RE2 (DuckDB oracle)
#: compile the IDENTICAL character class.
SCRIPT_RANGES = (
    ("latin", "A-Za-z"),
    ("cyrillic", "Ѐ-ӿ"),
    ("greek", "Ͱ-Ͽ"),
    ("han", "一-鿿"),
    ("arabic", "؀-ۿ"),
)


def script_mix(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document Unicode SCRIPT histogram + dominant script — the
    router in front of language-specific pipeline stages (word-shingle
    dedup and whitespace tokenization silently degrade on CJK/Arabic
    text, so a crawl needs this gate before both). Counts are
    regexp_count per explicit range (zero python, zero exchanges);
    ``dominant`` is the struct-greatest argmax with the script NAME as
    the deterministic tiebreak, 'none' when no script chars at all."""
    counts = {
        name: F.regexp_count(F.col(text_col), F.lit(f"[{rng}]")).cast("long")
        for name, rng in SCRIPT_RANGES
    }
    dom = F.greatest(
        *[F.struct(c.alias("c"), F.lit(n).alias("s")) for n, c in counts.items()]
    )
    return df.select(
        F.col(id_col),
        *[c.alias(n) for n, c in counts.items()],
        F.when(dom.getField("c") > 0, dom.getField("s"))
        .otherwise(F.lit("none"))
        .alias("dominant"),
    )


# ---------------------------------------------------------------------------
# TextTiling topical segmentation (Hearst 1997, windowed-depth variant)
# ---------------------------------------------------------------------------

TILE_BLOCK = 20  # tokens per block
TILE_DEPTH_MILLI = 200  # minimum depth (in squared-cosine milli units)


def text_tiles(
    df: DataFrame,
    *,
    block: int = TILE_BLOCK,
    depth_milli: int = TILE_DEPTH_MILLI,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """TextTiling topical boundaries (Hearst 1997): adjacent fixed-size
    token blocks are compared by lexical cosine; a boundary is declared at
    a local similarity minimum whose "depth" below the neighboring values
    clears a threshold.  Feeds section-aware chunking with topic breaks
    where no markup structure exists (the segmentation-based sibling of
    the DOM/PDF block splitters, reference html_parser/pdf_parser analogs).

    Integer-exact variant so the DuckDB oracle replays it bit-for-bit:

    - tokens: lowercased whitespace tokens (the token_count tokenizer);
    - blocks of ``block`` tokens, last partial block kept;
    - similarity at boundary b (between blocks b and b+1) is SQUARED
      cosine in milli units: ``floor(1e6 * dot^2 / (n2a * n2b))`` where
      ``dot = sum_w cnt_a(w) * cnt_b(w)`` is computed as the count of
      EQUAL PAIRS between the two token slices (sum over occurrences i in
      A of matches in B — identical by exchange of summation), and n2a /
      n2b are the equal-pair counts of each block with itself; 0 when a
      side is empty.  No sqrt, no floats anywhere;
    - depth at boundary i: ``(max(v[i-2..i-1]) - v_i) + (max(v[i+1..i+2])
      - v_i)`` with missing neighbors defaulting to v_i (Hearst's
      hill-climb replaced by a fixed +-2 window — deterministic and
      window-SQL-expressible; same spirit: how far the valley sits below
      its shoulders);
    - boundary iff v_i <= both immediate neighbors (edges: the one that
      exists) AND depth >= ``depth_milli``.

    Output: one row per boundary — (doc_id, boundary block index b,
    token_offset = (b+1)*block, sim_milli, depth_milli).  No Python;
    exactly ONE exchange (the per-doc depth window), and its rows are
    (doc_id, b, v) triples — the generator slices each block BEFORE
    exploding, so no row ever carries the whole document token array.
    """
    toks = F.transform(
        F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != ""),
        F.lower,
    )
    n_blocks = F.ceil(F.size(toks) / F.lit(block)).cast("int")

    # 1st projection binds the token array to an ATTRIBUTE; the generator
    # below references only that attribute (optimizer projection collapse
    # cannot re-inline the tokenizer into the lambdas — the ct_langid
    # lesson), and each emitted row carries only its two `block`-token
    # slices, never the whole document array, so the window exchange ships
    # O(block) bytes per boundary at any document length
    d = df.select(F.col(id_col).alias("doc_id"), toks.alias("_t"), n_blocks.alias("_nb"))
    t = F.col("_t")
    gen = F.transform(
        F.sequence(F.lit(0), F.col("_nb") - 2),
        lambda b: F.struct(
            b.cast("int").alias("b"),
            F.slice(t, b * block + 1, block).alias("ta"),
            F.slice(t, (b + 1) * block + 1, block).alias("tb"),
        ),
    )
    d = d.where(F.col("_nb") >= 2).select(
        "doc_id", F.explode(gen).alias("bk")
    ).select("doc_id", "bk.b", "bk.ta", "bk.tb")

    def pair_count(a_col, b_col):
        # sum over occurrences i in A of matches in B == sum_w cnt_a * cnt_b
        return F.aggregate(
            a_col,
            F.lit(0).cast("long"),
            lambda acc, tok: acc
            + F.size(F.filter(b_col, lambda x: x == tok)).cast("long"),
        )

    ta, tb = F.col("ta"), F.col("tb")
    dot = pair_count(ta, tb)
    n2a = pair_count(ta, ta)
    n2b = pair_count(tb, tb)
    # integer DIV, not floor(double /): a quotient one ulp under an integer
    # would round up in binary64 and floor() one too high vs the oracle
    d = d.select(
        "doc_id",
        "b",
        (F.lit(1_000_000).cast("long") * dot * dot).alias("_num"),
        (n2a * n2b).alias("_den"),
    ).select(
        "doc_id",
        "b",
        F.when(F.col("_den") > 0, F.expr("_num DIV _den"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("v"),
    )

    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("b")
    vm1, vm2 = F.lag("v", 1).over(w), F.lag("v", 2).over(w)
    vp1, vp2 = F.lead("v", 1).over(w), F.lead("v", 2).over(w)
    v = F.col("v")
    left_peak = F.greatest(F.coalesce(vm1, v), F.coalesce(vm2, v))
    right_peak = F.greatest(F.coalesce(vp1, v), F.coalesce(vp2, v))
    depth = (left_peak - v) + (right_peak - v)
    is_min = (v <= F.coalesce(vm1, v)) & (v <= F.coalesce(vp1, v))
    return (
        d.withColumn("depth", depth)
        .withColumn("_min", is_min)
        .where(F.col("_min") & (F.col("depth") >= depth_milli))
        .select(
            F.col("doc_id").alias(id_col),
            F.col("b").cast("int").alias("boundary_block"),
            ((F.col("b") + 1) * block).cast("int").alias("token_offset"),
            F.col("v").cast("long").alias("sim_milli"),
            F.col("depth").cast("long").alias("depth_milli"),
        )
    )


def line_langid(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-LINE language segmentation: multilingual web pages routinely
    interleave languages (nav chrome in one, content in another;
    bilingual articles), and a doc-level language vote misroutes every
    minority-language line — CCNet and mC4 both segment before language
    filtering for exactly this reason.

    Splits on newlines, language-IDs each non-blank line with the same
    marker vote as :func:`predicted_lang` (same CASE tie order, 'und' on
    zero hits), and emits per-line rows plus the line's divergence from
    the document-level vote — the signal a training-data pipeline routes
    on (keep the majority-language lines, re-route the rest).

    Output: (doc_id, line_no, n_chars, line_lang, doc_lang, diverges).
    One posexplode (zero exchanges, zero Python); at 100 TB this rides
    the extraction scan like every per-doc signal.
    """
    doc_lang = predicted_lang(F.col(text_col))
    d = df.select(
        F.col(id_col).alias("doc_id"),
        doc_lang.alias("doc_lang"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("line_no", "line"),
    ).where(F.trim(F.col("line")) != "")
    line_lang = predicted_lang(F.col("line"))
    return d.select(
        "doc_id",
        F.col("line_no").cast("int").alias("line_no"),
        F.length("line").cast("int").alias("n_chars"),
        line_lang.alias("line_lang"),
        "doc_lang",
        (line_lang != F.col("doc_lang")).alias("diverges"),
    )
