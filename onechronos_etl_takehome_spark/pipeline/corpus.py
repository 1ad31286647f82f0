"""Training-corpus preparation pipeline: the end-to-end product shape.

documents → quality filter → exact dedup → near-dup removal
(MinHash-LSH candidates verified by exact Jaccard, transitive groups
collapsed) → deterministic hash split → partitioned parquet by split.

Design mirrors the reconciliation pipeline's execution discipline:
- one cached frame at the survivor stage, Observation-based counters
  through observability.py (no extra count scans);
- every stage is a pure DataFrame transform — at 100 TB the only
  driver-side data is the metrics dict;
- the split is content-hash based (md5 of the id), so membership is
  reproducible across engines, reruns, and cluster sizes — rand()
  splits are not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..observability import capture_counts, drain, observe_count
from ..operators import dedup as dd
from ..operators import text as tx
from ..sources.sinks import write_parquet


def quality_filter(
    docs: DataFrame,
    *,
    text_col: str = "text",
    min_tokens: int = 50,
    min_diversity: float = 0.15,
) -> DataFrame:
    text = F.col(text_col)
    return (
        docs.withColumn("n_tokens", tx.token_count(text))
        .withColumn("lexical_diversity", tx.lexical_diversity(text))
        .filter(
            (F.col("n_tokens") >= min_tokens)
            & (F.col("lexical_diversity") >= min_diversity)
        )
    )


def remove_near_duplicates(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    use_lsh: bool = True,
) -> DataFrame:
    """Keep one survivor (the component's min id) per near-dup group."""
    if use_lsh:
        pairs = dd.minhash_dedup_pairs(
            docs, id_col, text_col, threshold=threshold
        )
    else:
        pairs = dd.ngram_jaccard_pairs(docs, id_col, text_col, threshold=threshold)
    components = dd.dedup_components(docs, pairs, id_col=id_col)
    return (
        docs.join(components, id_col)
        .filter(F.col(id_col) == F.col("canonical_id"))
        .drop("canonical_id")
    )


def remove_contaminated(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_contamination: float = 0.1,
    ngram: int = 3,
) -> DataFrame:
    """Drop docs whose benchmark n-gram overlap reaches the policy
    threshold (eval-set decontamination, operators/dedup.
    contamination_stats — benchmark shingles broadcast, corpus
    scanned once). Docs with overlap below the threshold — including
    zero hits — pass through."""
    flagged = (
        dd.contamination_stats(docs, benchmark, id_col, text_col, n=ngram)
        .filter(F.col("contamination") >= max_contamination)
        .select(id_col)
    )
    return docs.join(flagged, id_col, "left_anti")


def hash_split(
    df: DataFrame, *, id_col: str = "doc_id", weights: dict[str, int] | None = None
) -> DataFrame:
    """Deterministic split column from md5(id) — stable everywhere."""
    weights = weights or {"train": 8, "val": 1, "test": 1}
    total = sum(weights.values())
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast(
            "long"
        ),
        F.lit(total),
    )
    expr = None
    lo = 0
    for name, w in weights.items():
        cond = (bucket >= lo) & (bucket < lo + w)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo += w
    return df.withColumn("split", expr)


def prepare_corpus(
    docs: DataFrame,
    output_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 50,
    min_diversity: float = 0.15,
    jaccard_threshold: float = 0.5,
    use_lsh: bool = True,
    benchmark: DataFrame | None = None,
    max_contamination: float = 0.1,
) -> dict[str, int]:
    """Run the full pipeline; returns stage counters (single pass via
    Observation except the component loop's own convergence counts).
    With ``benchmark`` set, docs overlapping the eval set beyond
    ``max_contamination`` are dropped after dedup."""
    # the capture covers the two counts read here, so a caller's own
    # capture still receives the near-dup operators' candidate counts
    with capture_counts() as counts:
        docs = observe_count("docs_in", docs)
        filtered = quality_filter(
            docs, text_col=text_col, min_tokens=min_tokens, min_diversity=min_diversity
        )
        filtered = observe_count("after_quality", filtered)

    exact = dd.deterministic_dedup(
        filtered, [text_col], [F.col(id_col)]
    )  # exact-content survivors
    deduped = remove_near_duplicates(
        exact,
        id_col=id_col,
        text_col=text_col,
        threshold=jaccard_threshold,
        use_lsh=use_lsh,
    )
    if benchmark is not None:
        deduped = remove_contaminated(
            deduped,
            benchmark,
            id_col=id_col,
            text_col=text_col,
            max_contamination=max_contamination,
        )
    out = hash_split(deduped, id_col=id_col).cache()
    try:
        split_counts = {
            r["split"]: r["n"]
            for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        write_parquet(out, output_dir, partition_by=["split"])
        return {
            **{tag: int(v["n"]) for tag, v in drain(counts).items()},
            "after_dedup": sum(split_counts.values()),
            **{f"split_{k}": int(v) for k, v in split_counts.items()},
        }
    finally:
        out.unpersist()
