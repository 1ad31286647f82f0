"""Text-analysis expression builders (documents table).

All pure Column expressions (whole-stage codegen, no UDFs):
- token counting (whitespace + regex token classes),
- quality scoring (lexical-diversity / length / stopword ratios),
- language ID (marker-word scoring — an n-gram/stopword heuristic),
- document fingerprinting (md5 content hash + shingle fingerprints
  live in operators/dedup.py).

Ratios are computed as single double divisions of exact integer counts,
so results are bitwise-stable across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Marker stopwords per language — deliberately tiny; a production list
# would be per-language frequency tables. The *operator shape* (count
# marker hits per language, argmax with fixed precedence) is the point.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and"],
    "es": ["el", "la", "de", "y"],
    "fr": ["le", "la", "de", "et"],
    "de": ["der", "die", "das", "und"],
    "zh": ["de", "le", "shi", "he"],
}

STOPWORDS = ["the", "a", "of", "and", "to", "in"]


def tokens(text: Column) -> Column:
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def unique_token_count(text: Column) -> Column:
    return F.size(F.array_distinct(tokens(text))).cast("long")


def marker_hits(text: Column, markers: list[str]) -> Column:
    """How many tokens are in the marker list (duplicates counted)."""
    return F.size(
        F.filter(tokens(text), lambda t: t.isin(*markers))
    ).cast("long")


def avg_token_len(text: Column) -> Column:
    """(chars excluding separators) / tokens — one double division."""
    n_tok = token_count(text)
    n_sep = n_tok - F.lit(1)
    return (F.length(text).cast("long") - n_sep).cast("double") / n_tok.cast("double")


def lexical_diversity(text: Column) -> Column:
    return unique_token_count(text).cast("double") / token_count(text).cast("double")


def stopword_ratio(text: Column) -> Column:
    return marker_hits(text, STOPWORDS).cast("double") / token_count(text).cast(
        "double"
    )


def alpha_token_frac(text: Column) -> Column:
    """Fraction of tokens containing at least one ASCII letter."""
    hits = F.size(F.filter(tokens(text), lambda t: t.rlike("[A-Za-z]")))
    return hits.cast("double") / token_count(text).cast("double")


def symbol_to_word_ratio(text: Column) -> Column:
    """(# of '#' marks + '...' runs) per token — the Gopher symbol rule.

    Both counted with the same RE2-safe patterns on both engines.
    """
    n_sym = F.regexp_count(text, F.lit("#")) + F.regexp_count(
        text, F.lit(r"\.\.\.")
    )
    return n_sym.cast("double") / token_count(text).cast("double")


def distinct_stopword_hits(text: Column) -> Column:
    """How many DISTINCT stopwords from STOPWORDS appear in the text."""
    return F.size(
        F.array_intersect(
            F.array_distinct(tokens(text)),
            F.array(*[F.lit(s) for s in STOPWORDS]),
        )
    ).cast("long")


def lang_scores(text: Column) -> dict[str, Column]:
    return {lang: marker_hits(text, m) for lang, m in LANG_MARKERS.items()}


def lang_id(text: Column) -> Column:
    """Argmax language by marker hits; ties resolve by fixed precedence
    (dict order) so the result is deterministic."""
    scores = lang_scores(text)
    langs = list(scores)
    best = scores[langs[0]]
    for lang in langs[1:]:
        best = F.greatest(best, scores[lang])
    out = F.lit(None).cast("string")
    # First language (in precedence order) achieving the max wins.
    for lang in reversed(langs):
        out = F.when(scores[lang] == best, F.lit(lang)).otherwise(out)
    return out


# PII patterns: RE2-safe subset (no lookarounds/backrefs) so the same
# pattern strings run identically under Spark's Java regex and DuckDB's
# RE2 — the cross-engine contract the redaction oracle depends on.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    "phone": (r"\+1-555-[0-9]{4}", "[PHONE]"),
    "ssn": (r"[0-9]{3}-[0-9]{2}-[0-9]{4}", "[SSN]"),
}


def redact_pii(text: Column) -> Column:
    """Replace every email/phone/SSN match with its placeholder.

    Email runs first (its local part may contain digits-and-dashes
    runs the narrower patterns would nibble at); the remaining
    patterns are mutually non-overlapping.
    """
    out = text
    for pattern, placeholder in PII_PATTERNS.values():
        out = F.regexp_replace(out, pattern, placeholder)
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind match counts (BIGINT) over the *original* text."""
    return {
        kind: F.regexp_count(text, F.lit(pattern)).cast("long")
        for kind, (pattern, _) in PII_PATTERNS.items()
    }


def unigram_lm_scores(df, id_col: str, text_col: str, *, log_probs: bool = False):
    """Corpus-trained unigram language-model quality score per document
    (the CCNet-style "score docs by how typical their words are" gate,
    with the corpus itself as the training set).

    Plan shape (the one you'd want at 100 TB): explode tokens once;
    the frequency table is a groupBy on ``token`` whose exchange is
    shared by the tok⋈vocab join; the corpus total is a 1-row scalar
    aggregate broadcast into the final projection; per-doc scoring is
    one more groupBy on the id. No second tokenization pass, no
    driver-side vocabulary.

    Default score is the **mean token probability**
    ``sum_tf / (n_tokens * total)`` — exact integer aggregates with ONE
    final double division, so it is bitwise-reproducible across
    engines and partitionings (see functions/exact.py). It ranks
    documents identically to mean probability under any engine.

    ``log_probs=True`` additionally emits ``avg_logprob`` (mean
    ln P(w), the standard LM surprisal) and ``perplexity`` — the form a
    production corpus filter thresholds on. ln() is correctly-rounded
    only per-libm, and double SUM is order-dependent, so these columns
    are deterministic within Spark (decimal-quantized before the sum)
    but are NOT oracle-hashable cross-engine; the catalog entry uses
    the exact form.
    """
    from pyspark.sql import Window

    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    )
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("_c"))
    total = tok.agg(F.count(F.lit(1)).alias("_t"))
    per_tok = tok.join(vocab, "token")
    agg_cols = [
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("_c").cast("long").alias("sum_tf"),
    ]
    if log_probs:
        # ln(c/T) per occurrence, quantized to DECIMAL(28,12) so the
        # re-aggregation is order-independent (exact decimal sum);
        # T is folded in after the sum: avg ln(c/T) = avg ln(c) - ln(T).
        agg_cols.append(
            F.sum(F.log(F.col("_c").cast("double")).cast("decimal(28,12)"))
            .alias("_sum_ln_c")
        )
    scored = per_tok.groupBy(id_col).agg(*agg_cols)
    out = scored.crossJoin(F.broadcast(total)).select(
        F.col(id_col),
        "n_tokens",
        "sum_tf",
        # denominator multiplies in the DOUBLE domain: n_tokens·total
        # overflows int64 near ~1e18 (a 100-TB corpus is ~1e13 tokens),
        # while double·double of exactly-representable ints is the
        # identical IEEE op in both engines. sum_tf itself stays BIGINT
        # — its bound (Σ per-occurrence corpus frequency ≤ ~9.2e18)
        # holds through ~1e9-doc corpora; beyond that, aggregate it as
        # DECIMAL(38,0) per the huge-accumulator rule.
        (
            F.col("sum_tf").cast("double")
            / (F.col("n_tokens").cast("double") * F.col("_t").cast("double"))
        ).alias("mean_token_prob"),
        *(
            [
                (
                    F.col("_sum_ln_c").cast("double") / F.col("n_tokens")
                    - F.log(F.col("_t").cast("double"))
                ).alias("avg_logprob")
            ]
            if log_probs
            else []
        ),
    )
    if log_probs:
        out = out.withColumn("perplexity", F.exp(-F.col("avg_logprob")))
    return out


def bm25_topk(
    df,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 10,
):
    """BM25 document retrieval (Robertson/Spärck Jones): rank documents
    against a bag of query terms — the classic sparse-retrieval scorer
    a corpus-curation pipeline uses to mine topic-relevant training
    data at scale. Returns ``(doc_id, score, rank)``, top ``topk`` docs.

    Plan shape (ONE full-corpus exchange): the query-term bag is a
    compile-time literal list, so per-term tfs become conditional
    counts inside the single per-doc groupBy — tokenize → one
    ``groupBy(id)`` computing ``dl`` plus one ``_tf_i`` per term. The
    corpus stats the scorer needs (n_docs, Σdl, per-term doc
    frequencies) reduce that frame to ONE broadcast row, and scoring
    is a pure projection. Contrast with the naive long form (tf /
    dl / df as separate aggregations joined back) which re-scans the
    corpus per branch — PLANS.md showed 4 scans; this shape shows 1.

    Cross-engine exactness (the oracle hash-matches bit-for-bit):
    - **idf is the rational Robertson form without the log**:
      ``(N - df + 0.5)/(df + 0.5)`` — exact double ops on exact
      integer inputs instead of a libm ln() (the t08 trick). Per TERM
      the transform is monotone in df, but summed multi-term scores
      are a DIFFERENT ranking function than log-idf BM25 (rare terms
      weigh relatively heavier without the log compression), chosen
      deliberately so the oracle hash-matches; treat it as BM25-shaped
      scoring, not a drop-in for a log-idf system.
    - every double op (the one avgdl division, the tf saturation, the
      idf ratio, their product) is a fixed-order scalar expression on
      identical operands → bitwise-identical IEEE results;
    - per-term scores quantize to DECIMAL(28,12); decimal addition is
      exact, so the fixed-order fold here equals the oracle's SUM over
      per-term rows regardless of order or partitioning;
    - rank ties break on doc_id.
    """
    from pyspark.sql import Window

    if not query_terms:
        raise ValueError("bm25_topk needs at least one query term")
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    )
    per_doc = tok.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_dl"),
        *[
            F.sum(F.when(F.col("token") == t, 1).otherwise(0)).alias(f"_tf_{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    # The stats branch re-aggregates per_doc; without a cut Catalyst
    # plans it as a SECOND full corpus scan+explode+agg (column pruning
    # makes the two exchanges non-identical, so ReuseExchange can't
    # dedupe them). Truncate at the aggregated frame — n_docs·(terms+2)
    # longs, ~10⁻⁴ of corpus bytes — so the corpus is tokenized ONCE.
    from .util import truncate_lineage

    per_doc = truncate_lineage(per_doc)
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("_n_docs"),
        F.sum("_dl").alias("_sum_dl"),
        *[
            F.sum((F.col(f"_tf_{i}") > 0).cast("long")).alias(f"_df_{i}")
            for i in range(len(query_terms))
        ],
    )

    n_d = F.col("_n_docs").cast("double")
    avgdl = F.col("_sum_dl").cast("double") / n_d
    dl_d = F.col("_dl").cast("double")
    zero = F.lit(0).cast("decimal(28,12)")

    def _term(i: int):
        tf_d = F.col(f"_tf_{i}").cast("double")
        df_d = F.col(f"_df_{i}").cast("double")
        idf = (n_d - df_d + F.lit(0.5)) / (df_d + F.lit(0.5))
        denom = tf_d + F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * (dl_d / avgdl)
        )
        s = (idf * ((tf_d * F.lit(k1 + 1.0)) / denom)).cast("decimal(28,12)")
        return F.when(F.col(f"_tf_{i}") > 0, s).otherwise(zero)

    score = _term(0)
    for i in range(1, len(query_terms)):
        score = score + _term(i)
    matched = F.col("_tf_0") > 0
    for i in range(1, len(query_terms)):
        matched = matched | (F.col(f"_tf_{i}") > 0)

    scored = (
        per_doc.crossJoin(F.broadcast(stats))
        .filter(matched)
        .select(F.col(id_col), score.alias("_score_dec"))
    )
    # TakeOrdered first (mergeable per-partition top-k — no global
    # window over the full scored frame), then rank the tiny shortlist.
    shortlist = scored.orderBy(
        F.col("_score_dec").desc(), F.col(id_col)
    ).limit(topk)
    w = Window.orderBy(F.col("_score_dec").desc(), F.col(id_col))
    return shortlist.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).select(
        F.col(id_col),
        F.col("_score_dec").cast("double").alias("score"),
        "rank",
    )


def domain_selection_scores(
    df,
    id_col: str,
    text_col: str,
    domain_col: str,
    in_domain: list[str],
):
    """Moore–Lewis-shaped domain data selection: score every document
    by how much more typical its words are under the IN-DOMAIN corpus
    (rows whose ``domain_col`` is in ``in_domain``) than under the
    general corpus — the standard way a training pipeline mines
    domain-relevant data out of a web-scale crawl.

    Score = mean in-domain token probability − mean general token
    probability: ``sum_tf_in/(n·T_in) − sum_tf_out/(n·T_out)``. The
    classical formulation differences LM *cross-entropies* (log
    probabilities); this is the same discriminative shape in the
    probability domain, chosen — like t15's mean-token-prob — because
    exact integer aggregates with two fixed-order double divisions and
    one subtraction hash-match across engines, where a libm-log sum
    cannot.

    Plan shape (t15's): tokenize once; the conditional frequency table
    is ONE groupBy on token carrying both corpus counts; totals reduce
    it to a broadcast row; per-doc scoring is one groupBy on the id.
    """
    is_in = F.col(domain_col).isin(*in_domain).cast("long")
    tok = df.select(
        F.col(id_col),
        is_in.alias("_in"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    vocab = tok.groupBy("token").agg(
        F.sum("_in").alias("_c_in"),
        F.sum(F.lit(1) - F.col("_in")).alias("_c_out"),
    )
    totals = vocab.agg(
        F.sum("_c_in").alias("_t_in"), F.sum("_c_out").alias("_t_out")
    )
    per_doc = (
        tok.join(vocab, "token")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("_c_in").cast("long").alias("sum_tf_in"),
            F.sum("_c_out").cast("long").alias("sum_tf_out"),
        )
    )
    n_d = F.col("n_tokens").cast("double")
    return per_doc.crossJoin(F.broadcast(totals)).select(
        F.col(id_col),
        "n_tokens",
        "sum_tf_in",
        "sum_tf_out",
        (
            F.col("sum_tf_in").cast("double")
            / (n_d * F.col("_t_in").cast("double"))
            - F.col("sum_tf_out").cast("double")
            / (n_d * F.col("_t_out").cast("double"))
        ).alias("ml_score"),
    )


def segment_dedup(
    docs,  # DataFrame
    id_col: str,
    text_col: str,
    *,
    seg_tokens: int = 8,
    max_segs: int = 64,
):
    """Corpus-wide segment-level exact dedup (the C4/CCNet line-dedup
    primitive): split every document into consecutive ``seg_tokens``-
    token segments, keep only each distinct segment's FIRST occurrence
    (corpus order = (id, segment index)), and reassemble the surviving
    segments into a cleaned document.

    Returns (id_col, n_segs, n_kept, cleaned_text) — one row per input
    document (documents whose every segment was seen earlier come back
    with ``n_kept = 0`` and an empty string, so the caller decides the
    drop threshold).

    Scale shape — segment STRINGS cross the wire exactly ONCE:
    first-occurrence selection is a grouped MIN over a packed
    (id·max_segs + idx) BIGINT (map-side partial combine, so a segment
    repeated 1e9 times costs its partition count, not a single-task
    window); the winner PACKS — a distinct-segment-sized column of
    longs, nothing else — then mark keepers via an equality join on
    the pack (every occurrence has a unique pack, and the winner set
    holds exactly the first-occurrence packs, so no string comparison
    is needed); reassembly recomputes the kept segments JVM-side from
    the ORIGINAL document text (a co-keyed join on the doc id), so the
    flag join and the per-doc fold shuffle integers only. Measured
    1.5× on the 10× corpus vs the string-keyed join form with every
    column materialized (7.3 → 4.9 s), and the win grows with segment
    width — the shuffled bytes no longer depend on it.

    ``max_segs`` bounds segments per document for the pack to stay
    collision-free (raise it for long documents; 2^63 leaves ~1e17
    documents of headroom at 64).
    """
    segs = _segments(docs, id_col, text_col, seg_tokens, max_segs)
    winners = segs.groupBy("_seg").agg(F.min("_pack").alias("_first")).select(
        "_first"
    )
    flags = (
        segs.select(id_col, "_idx", "_pack")
        .join(winners, F.col("_pack") == F.col("_first"), "left")
        .select(
            id_col,
            "_idx",
            F.col("_first").isNotNull().alias("_keep"),
        )
    )
    per_doc = flags.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_segs"),
        F.sum(F.col("_keep").cast("long")).cast("long").alias("n_kept"),
        F.array_sort(
            F.collect_list(F.when(F.col("_keep"), F.col("_idx")))
        ).alias("_kept_idx"),
    )
    toks = F.split(F.col(text_col), " ")
    rebuilt = F.array_join(
        F.transform(
            F.col("_kept_idx"),
            lambda i: F.array_join(
                F.slice(toks, (i * seg_tokens + 1).cast("int"), seg_tokens),
                " ",
            ),
        ),
        " ",
    )
    return per_doc.join(docs.select(id_col, text_col), id_col).select(
        id_col, "n_segs", "n_kept", rebuilt.alias("cleaned_text")
    )


def _segments(docs, id_col, text_col, seg_tokens, max_segs):
    """One row per ``seg_tokens``-token segment: (id, _idx, _seg,
    _pack) with ``_pack = id·max_segs + _idx`` — the collision-free
    BIGINT that makes (id, idx) order a single-column MIN."""
    # interpreted HOF segment build runs in the SCAN stage: spread an
    # under-split input so it uses every core (no-op at scale, and on
    # streaming frames where the partition probe is unavailable) —
    # the same posture as dedup._exploded_shingles. ``bytes_per_split``
    # keeps a small corpus from paying a 32-way exchange for work a
    # few cores finish anyway (~256 KB compressed ≈ a few thousand
    # docs per split). Measured at sf0.1: t25 10× probe 5.0 → 3.1 s
    # (one 6 MB parquet file previously pinned the segment build to
    # its splits), t25 1× flat.
    # Gated to SCAN-SHAPED inputs (round-14 advice): util.spread's
    # partition probe on a derived/shuffled frame eagerly executes the
    # upstream exchanges under AQE at build time. The public
    # segment_dedup/segment_index operators accept caller frames, so
    # probe leaf files first (metadata-only): an in-memory/derived
    # frame with no file leaves skips the spread — correctness never
    # depended on it. A frame that AGGREGATES over a file scan still
    # passes this gate; util.spread's contract (scan-shaped inputs)
    # remains the caller's responsibility for that shape.
    if not docs.isStreaming:
        try:
            scan_shaped = bool(docs.inputFiles())
        except Exception:  # non-file source: treat as not scan-shaped
            scan_shaped = False
        if scan_shaped:
            from .util import spread

            docs = spread(docs, bytes_per_split=256 << 10)
    toks = F.split(F.col(text_col), " ")
    n_segs = F.ceil(F.size(toks) / F.lit(float(seg_tokens))).cast("int")
    # _pack is collision-free ONLY while _idx < max_segs; a longer
    # document would silently alias into the next doc's pack range and
    # corrupt first-occurrence selection, so refuse it loudly (the
    # package's raise-on-unsupported convention) instead
    checked_idx = F.when(
        F.col("_idx") < max_segs, F.col("_idx")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("segment index overflows max_segs="),
                F.lit(str(max_segs)),
                F.lit(" for doc id "),
                F.col(id_col).cast("string"),
                F.lit(" — raise max_segs or pre-chunk long documents"),
            )
        ).cast("long")
    )
    return docs.select(
        F.col(id_col),
        toks.alias("_toks"),
        F.explode(F.sequence(F.lit(0), n_segs - 1)).alias("_idx"),
    ).select(
        id_col,
        F.col("_idx").cast("long").alias("_idx"),
        F.array_join(
            F.slice("_toks", F.col("_idx") * seg_tokens + 1, seg_tokens),
            " ",
        ).alias("_seg"),
        (F.col(id_col) * max_segs + checked_idx).alias("_pack"),
    )


def _reassemble(kept, id_col):
    """Per-doc report + ordered reassembly of the ``_keep`` survivors."""
    return kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_segs"),
        F.sum(F.col("_keep").cast("long")).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_keep"), F.struct("_idx", "_seg"))
                    )
                ),
                lambda x: x["_seg"],
            ),
            " ",
        ).alias("cleaned_text"),
    )


def segment_index(
    docs,
    id_col: str,
    text_col: str,
    *,
    seg_tokens: int = 8,
    max_segs: int = 64,
):
    """The persistable side of incremental segment dedup: one row per
    DISTINCT segment of the already-ingested corpus with its first-
    occurrence pack — grouped MIN, map-side combine. In production
    this frame is written once (partitioned by segment hash) and each
    ingest batch appends its new segments."""
    return (
        _segments(docs, id_col, text_col, seg_tokens, max_segs)
        .groupBy("_seg")
        .agg(F.min("_pack").alias("_first"))
    )


def segment_dedup_incremental(
    new_docs,
    index,
    id_col: str,
    text_col: str,
    *,
    seg_tokens: int = 8,
    max_segs: int = 64,
):
    """Incremental :func:`segment_dedup`: clean only the DELTA batch
    against a persisted :func:`segment_index` of everything ingested
    before it. A delta segment survives iff it is absent from the
    index AND is its own first occurrence within the delta. Only the
    delta is exploded; the index joins by segment equality (at scale:
    both sides pre-partitioned by segment hash — no corpus re-scan,
    no index shuffle). Same output contract as ``segment_dedup``;
    equals the full-corpus run restricted to the delta whenever delta
    ids sort after ingested ids (packs are id-ordered)."""
    segs = _segments(new_docs, id_col, text_col, seg_tokens, max_segs)
    within = segs.groupBy("_seg").agg(F.min("_pack").alias("_first_new"))
    kept = (
        segs.join(within, "_seg")
        .join(
            index.select("_seg", F.lit(True).alias("_in_index")),
            "_seg",
            "left",
        )
        .withColumn(
            "_keep",
            (F.col("_pack") == F.col("_first_new"))
            & F.col("_in_index").isNull(),
        )
    )
    return _reassemble(kept, id_col)
