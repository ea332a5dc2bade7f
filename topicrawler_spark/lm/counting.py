"""Distributed n-gram counting — the LM *build* side, pure Spark aggregations.

Replaces the reference's five shell/hadoop MapReduce jobs + sorted-file merge
(count, vocab, nfollow, nprecede, nfollowerprecede joined into one table)
with ``groupBy`` aggregations and three left joins. All window generation is
JVM-side (``sequence``/``slice``/``array_join``); only the tokenizer itself is
a pandas UDF.

Output schema (the ``lm_counts`` table):
  ngram:string, n:int, cnt:long,
  nf_N1,nf_N2,nf_N3,np_N1,np_N2,np_N3,nfp_N1,nfp_N2,nfp_N3:long (nullable)

Scale notes: counting shuffles once per aggregation on the ngram string (a
high-cardinality, well-distributed key — no salting needed); partial
aggregation (map-side combine) is automatic. The three continuation-count
joins are equi-joins on the same key; with AQE they become a single shuffle
reuse + sort-merge joins.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from topicrawler_spark.functions.udfs import make_lm_tokens_udf
from topicrawler_spark.lm.local import LocalLM


def ngram_windows(tokens: Column, n: int, boundary_mode: int = 0) -> Column:
    """array<string> -> array<array<string>> sliding windows of size n with
    the reference's boundary-mode-0 semantics (short sequences produce one
    short n-gram). JVM-side only."""
    size = F.size(tokens)
    slid = F.transform(
        F.sequence(F.lit(1), size - F.lit(n) + 1), lambda i: F.slice(tokens, i, F.lit(n))
    )
    if boundary_mode == -1:
        return F.when(size >= n, slid).otherwise(F.array().cast("array<array<string>>"))
    # mode 0: one short ngram when the sequence is shorter than the order
    return F.when(size <= n, F.array(tokens)).otherwise(slid)


def sentences_tokens(df: DataFrame, text_col: str = "text", language_code: str = "default") -> DataFrame:
    """documents -> one row per tokenized sentence (column ``tokens``)."""
    lm_tokens = make_lm_tokens_udf(language_code)
    return df.select(F.explode(lm_tokens(F.col(text_col))).alias("tokens"))


def count_ngrams(
    sentences: DataFrame,
    order: int,
    mincount: int = 1,
    boundary_mode: int = 0,
) -> DataFrame:
    """(tokens: array<string>) -> (ngram, n, cnt) for all orders 1..order."""
    per_order = []
    for n in range(1, order + 1):
        per_order.append(
            sentences.select(
                F.explode(ngram_windows(F.col("tokens"), n, boundary_mode)).alias("gram")
            ).select(F.array_join("gram", " ").alias("ngram"))
        )
    all_ngrams = per_order[0]
    for d in per_order[1:]:
        all_ngrams = all_ngrams.unionAll(d)
    counted = (
        all_ngrams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("n", F.size(F.split("ngram", " ")))
    )
    if mincount > 1:
        counted = counted.filter(F.col("cnt") >= mincount)
    return counted.select("ngram", "n", "cnt")


def extend_lm_counts(
    base_counts: DataFrame,
    new_text_df: DataFrame,
    order: int,
    mincount: int = 1,
    language_code: str = "default",
    text_col: str = "text",
) -> DataFrame:
    """Incrementally grow a raw ``(ngram, n, cnt)`` count table with the
    n-gram counts of new text: the new documents run through the SAME
    counting pipeline (``sentences_tokens`` -> ``count_ngrams``), then the
    two tables are summed by ngram — one union + one hash aggregate, no
    driver-side state, so the refresh scales with the new text, not the
    accumulated table.

    Exact by construction when ``base_counts`` was built with mincount=1:
    extending equals recounting the concatenated corpus (same tokenizer,
    same windows, ``mincount`` applied AFTER the merge). A base table
    already pruned at mincount>1 has lost its sub-threshold grams, so the
    extension is then the best reachable approximation of a full recount —
    matching the reference's own behavior of extending a *persisted*
    (post-prune) count table. Every derived stat (continuation tables, KN
    discounts, histogram) is a function of this table and is rebuilt by the
    consumer (``build_join_scorer``)."""
    new_counts = count_ngrams(
        sentences_tokens(new_text_df, text_col, language_code), order, mincount=1
    )
    merged = (
        base_counts.select("ngram", "n", "cnt")
        .unionByName(new_counts)
        .groupBy("ngram", "n")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    if mincount > 1:
        merged = merged.filter(F.col("cnt") >= mincount)
    return merged.select("ngram", "n", "cnt")


def _continuation(counts: DataFrame, key: Column, prefix: str) -> DataFrame:
    """The nfollow/nprecede/nfollowerprecede reducer as one groupBy."""
    return (
        counts.select(key.alias("key"), "cnt")
        .groupBy("key")
        .agg(
            F.count(F.when(F.col("cnt") == 1, 1)).alias(f"{prefix}_N1"),
            F.count(F.when(F.col("cnt") == 2, 1)).alias(f"{prefix}_N2"),
            F.count(F.when(F.col("cnt") >= 3, 1)).alias(f"{prefix}_N3"),
        )
    )


def _drop_last(ngram: Column) -> Column:
    toks = F.split(ngram, " ")
    return F.array_join(F.slice(toks, 1, F.size(toks) - 1), " ")


def _drop_first(ngram: Column) -> Column:
    toks = F.split(ngram, " ")
    return F.array_join(F.slice(toks, 2, F.size(toks) - 1), " ")


def _middle(ngram: Column) -> Column:
    toks = F.split(ngram, " ")
    return F.array_join(F.slice(toks, 2, F.size(toks) - 2), " ")


def build_lm_counts(counts: DataFrame) -> DataFrame:
    """counts + the three continuation tables, left-joined on the ngram key
    (the reference's sorted ``join -a1`` merge; Catalyst picks SMJ/AQE)."""
    multi = counts.filter(F.col("n") > 1)
    nf = _continuation(multi, _drop_last(F.col("ngram")), "nf")
    np_ = _continuation(multi, _drop_first(F.col("ngram")), "np")
    nfp = _continuation(counts.filter(F.col("n") > 2), _middle(F.col("ngram")), "nfp")
    out = (
        counts.join(nf, counts["ngram"] == nf["key"], "left")
        .drop("key")
        .join(np_, counts["ngram"] == np_["key"], "left")
        .drop("key")
        .join(nfp, counts["ngram"] == nfp["key"], "left")
        .drop("key")
    )
    return out


def sum_ngrams_histogram(counts: DataFrame) -> tuple[list[list[int]], list[int]]:
    """The ``__sum_ngrams__`` histogram: N[n][class 0..5], S[n]. Tiny result,
    collected to the driver."""
    rows = (
        counts.groupBy("n", F.least(F.col("cnt"), F.lit(5)).alias("cls"))
        .agg(F.count(F.lit(1)).alias("num"), F.sum("cnt").alias("total"))
        .collect()
    )
    max_n = max((r["n"] for r in rows), default=0)
    N = [[0] * 6 for _ in range(max_n + 1)]
    S = [0] * (max_n + 1)
    for r in rows:
        N[r["n"]][r["cls"]] += r["num"]
        N[r["n"]][0] += r["num"]
        S[r["n"]] += r["total"]
    return N, S


def build_local_lm(
    spark: SparkSession,
    documents: DataFrame,
    order: int,
    text_col: str = "text",
    mincount: int = 1,
    language_code: str = "default",
) -> LocalLM:
    """End-to-end LM build: documents -> Spark counting -> driver LocalLM.

    The seed-topic LM is bounded by the seed corpus (not the crawl), so the
    collected table fits the driver by design; at larger corpus scales keep
    the DataFrame and use the join-based scorers instead.
    """
    sentences = sentences_tokens(documents, text_col, language_code)
    counts = count_ngrams(sentences, order, mincount)
    pairs = counts.select("ngram", "cnt").collect()
    return LocalLM.from_counts({r["ngram"]: r["cnt"] for r in pairs}, order)


def score_mle_join(
    ngrams_df: DataFrame,
    lm_counts: DataFrame,
    ngram_col: str = "ngram",
) -> DataFrame:
    """Join-based MLE log10 scoring for corpus-scale LMs: two broadcast-or-SMJ
    equi-joins instead of an in-memory dict. Adds ``log10p``."""
    c_ngram = lm_counts.select(F.col("ngram").alias("_g"), F.col("cnt").alias("_c"))
    c_hist = lm_counts.select(F.col("ngram").alias("_h"), F.col("cnt").alias("_hc"))
    n_unigrams = lm_counts.filter(F.col("n") == 1).count()
    toks = F.split(F.col(ngram_col), " ")
    hist = F.array_join(F.slice(toks, 1, F.size(toks) - 1), " ")
    out = (
        ngrams_df.withColumn("_hist", hist)
        .join(c_ngram, F.col(ngram_col) == F.col("_g"), "left")
        .join(c_hist, F.col("_hist") == F.col("_h"), "left")
    )
    uni = F.log10(F.col("_c")) - F.lit(float(__import__("math").log10(max(n_unigrams, 1))))
    multi = F.log10(F.col("_c")) - F.log10(F.col("_hc"))
    log10p = (
        F.when(F.col("_c").isNull(), F.lit(float("-inf")))
        .when(F.size(toks) == 1, uni)
        .when(F.col("_hc").isNull(), F.lit(float("-inf")))
        .otherwise(multi)
    )
    return out.withColumn("log10p", log10p).drop("_g", "_c", "_h", "_hc", "_hist")


def score_laplace_join(
    ngrams_df: DataFrame,
    lm_counts: DataFrame,
    ngram_col: str = "ngram",
) -> DataFrame:
    """Join-based Laplace (add-one) log10 scoring: mirrors
    ``LocalLM.laplace_log10`` (mapbased/LaplaceSmoothedLM) as two equi-joins.
    Unigrams normalize by (total tokens + V); higher orders by
    (c(hist) + V). Adds ``log10p``."""
    uni_stats = lm_counts.filter(F.col("n") == 1).agg(
        F.count(F.lit(1)).alias("V"), F.sum("cnt").alias("S1")
    ).collect()[0]
    V, S1 = int(uni_stats["V"]), int(uni_stats["S1"] or 0)
    c_ngram = lm_counts.select(F.col("ngram").alias("_g"), F.col("cnt").alias("_c"))
    c_hist = lm_counts.select(F.col("ngram").alias("_h"), F.col("cnt").alias("_hc"))
    toks = F.split(F.col(ngram_col), " ")
    hist = F.array_join(F.slice(toks, 1, F.size(toks) - 1), " ")
    out = (
        ngrams_df.withColumn("_hist", hist)
        .join(c_ngram, F.col(ngram_col) == F.col("_g"), "left")
        .join(c_hist, F.col("_hist") == F.col("_h"), "left")
    )
    nom = F.coalesce(F.col("_c"), F.lit(0)) + F.lit(1)
    log10p = F.when(
        F.size(toks) == 1, F.log10(nom) - F.lit(float(__import__("math").log10(S1 + V)))
    ).otherwise(F.log10(nom) - F.log10(F.coalesce(F.col("_hc"), F.lit(0)) + F.lit(V)))
    return out.withColumn("log10p", log10p).drop("_g", "_c", "_h", "_hc", "_hist")


def kn_discounts_from_histogram(N: list[list[int]], order: int, discount: float = -1.0) -> list[float]:
    """Per-order KN discounts D = N1/(N1+2*N2) with the reference's
    monotonicity fix-ups (lucenebased/KneserNeyLM discount estimation;
    parity with ``LocalLM.kn_discounts`` is pytest-pinned)."""
    D = [0.7] * (order + 1)
    if 0 <= discount <= 1:
        return [discount] * (order + 1)
    for n in range(1, order + 1):
        Nn = list(N[n])
        for i in range(len(Nn) - 1, 1, -1):
            if Nn[i] == 0:
                Nn[i] = 1
            if i * Nn[i] >= (i - 1) * Nn[i - 1]:
                Nn[i - 1] = Nn[i] * i + 1
        D[n] = Nn[1] / (Nn[1] + 2.0 * Nn[2])
    return D


def build_kn_stats(counts: DataFrame) -> DataFrame:
    """Per-ngram continuation-cardinality dimension for the order-n join
    scorers: ``(ngram, n, cnt, nf_tot, np_tot, nfp_tot)`` where nf_tot(g) is
    the number of counted ngrams extending g on the right by one word
    (``LocalLM.nf_total``), np_tot on the left, nfp_tot on both sides —
    i.e. the *totals* twin of ``build_lm_counts``'s N1/N2/N3 split.

    Deriving the tables by joining back onto ``counts`` reproduces the
    reference's rule that a pruned/absent key answers zero continuation
    counts (lucenebased index rows carry them on the ngram's own row).
    At corpus scale persist this once next to the count table
    (``write_lm_counts``) instead of rebuilding per scoring job — it is
    three groupBys + three equi-joins on the ngram key."""
    multi = counts.filter(F.col("n") > 1)
    nf = multi.groupBy(_drop_last(F.col("ngram")).alias("_k")).agg(
        F.count(F.lit(1)).alias("nf_tot")
    )
    np_ = multi.groupBy(_drop_first(F.col("ngram")).alias("_k")).agg(
        F.count(F.lit(1)).alias("np_tot")
    )
    nfp = counts.filter(F.col("n") > 2).groupBy(_middle(F.col("ngram")).alias("_k")).agg(
        F.count(F.lit(1)).alias("nfp_tot")
    )
    out = counts
    for dim in (nf, np_, nfp):
        out = out.join(dim, out["ngram"] == dim["_k"], "left").drop("_k")
    return out


def _suffix(toks: Column, n: int, j: int) -> Column:
    """Last j words of an n-token ngram: w_{n-j+1}..w_n."""
    return F.array_join(F.slice(toks, n - j + 1, j), " ")


def _hist_suffix(toks: Column, n: int, j: int) -> Column:
    """j words ending at position n-1: w_{n-j}..w_{n-1} (the backoff
    histories — suffixes of the ngram's n-1-word prefix)."""
    return F.array_join(F.slice(toks, n - j, j), " ")


def _backoff_keys(toks: Column, n: int) -> dict[str, Column]:
    """The 2n-1 stats keys a backoff recursion reads for an n-token ngram:
    the suffixes ``s1..sn`` and the histories ``h1..h{n-1}``."""
    keys = {f"s{j}": _suffix(toks, n, j) for j in range(1, n + 1)}
    keys.update({f"h{j}": _hist_suffix(toks, n, j) for j in range(1, n)})
    return keys


KN_STAT_COLS = ["cnt", "nf_tot", "np_tot", "nfp_tot"]


@dataclass
class StatsLookup:
    """The stats-dimension lookup as prebuilt plan fragments
    (``build_stats_lookup``): ``probe_cols`` is the (ngram alias,
    posexplode(keys)) select list, ``dim`` the aliased dimension, ``aggs``
    the pivot hash-aggregate columns. DataFrames and Columns are immutable
    plan fragments, so a crawl builds them once per scoring campaign
    instead of paying the py4j/analysis cost of identical trees per round.
    The lookup is the only carrier of its dimension: scoring takes a
    lookup, never a stats DataFrame beside it."""

    probe_cols: list[Column]
    dim: DataFrame
    aggs: list[Column]
    ngram_col: str = "ngram"


def build_stats_lookup(
    stats: DataFrame,
    keys: dict[str, Column],
    cols: list[str],
    ngram_col: str = "ngram",
) -> StatsLookup:
    """Prebuild the lookup of ``cols`` of ``stats`` at every key expression
    (see ``StatsLookup``); looked-up columns come out as ``_{tag}_{col}``."""
    tags = list(keys)
    probe_cols = [
        F.col(ngram_col).alias("_pg"),
        F.posexplode(F.array(*[keys[t] for t in tags])).alias("_ki", "_key"),
    ]
    dim = stats.select(
        F.col("ngram").alias("_key"), *[F.col(c).alias(f"_st_{c}") for c in cols]
    )
    aggs = [
        F.max(F.when(F.col("_ki") == i, F.col(f"_st_{c}"))).alias(f"_{t}_{c}")
        for i, t in enumerate(tags)
        for c in cols
    ]
    return StatsLookup(probe_cols=probe_cols, dim=dim, aggs=aggs, ngram_col=ngram_col)


def score_unique(ngrams_df: DataFrame, lookup: StatsLookup, score: Column) -> DataFrame:
    """Score ngrams whose ``lookup.ngram_col`` values are UNIQUE ->
    ``(ngram_col, score)``: posexplode the 2n-1 key expressions into
    (ngram, key-index) pairs, left-join the stats dimension ONCE, pivot the
    hits back to one wide row per ngram via a hash aggregate, and project
    ``score`` (an aliased Column over ``ngram_col`` and the ``_{tag}_{col}``
    names) from it.

    Why this shape: joining the dimension once per key exchanges (or
    broadcast-builds) the stats table 2n-1 times per scoring call, none
    reused because each join aliases it differently. This form exchanges
    stats once and trades the rest for one shuffle of the exploded probe
    rows ((2n-1)x the distinct-ngram count) plus one map-side-combinable
    groupBy — the side that scales with the corpus crosses the wire once.
    Other input columns are not carried; duplicate ngrams would collapse
    (``_score_rows`` handles arbitrary input)."""
    tagged = ngrams_df.select(*lookup.probe_cols)
    hits = tagged.join(lookup.dim, "_key", "left")
    return (
        hits.groupBy("_pg")
        .agg(*lookup.aggs)
        .withColumnRenamed("_pg", lookup.ngram_col)
        .select(lookup.ngram_col, score)
    )


def _score_rows(ngrams_df: DataFrame, lookup: StatsLookup, score: Column) -> DataFrame:
    """``score_unique`` for arbitrary input: score each distinct ngram once,
    then left-join the score back, so duplicate ngrams, extra columns and
    null ngrams (scored NULL) pass through with the input's rows."""
    col = lookup.ngram_col
    scored = score_unique(ngrams_df.select(col).distinct(), lookup, score)
    return ngrams_df.join(scored, col, "left").select(*ngrams_df.columns, *scored.columns[1:])


def score_stupid_backoff_join(
    ngrams_df: DataFrame,
    lm_counts: DataFrame,
    order: int,
    discount: float = 0.4,
    ngram_col: str = "ngram",
) -> DataFrame:
    """Join-based Stupid Backoff at arbitrary order n>=2 — the corpus-scale
    twin of ``LocalLM.stupid_backoff`` (lucenebased/StupidBackoffLM.score),
    branch-for-branch including its early-return quirks: an OOV last word
    scores ud = discount/(U+1); a miss while backing off at a middle order
    returns the previous level's score times one discount; a miss at the top
    order returns the previous score undiscounted. Rows whose ngram does not
    carry ``order`` tokens score NULL (loud, instead of a
    plausible-but-wrong backoff score from empty join keys). One stats
    lookup against the count table, no per-row Python. Adds ``sb_log10``."""
    if order < 2:
        raise ValueError("order must be >= 2")
    n = order
    U = lm_counts.filter(F.col("n") == 1).count()
    ud = discount / (U + 1.0)
    toks = F.split(F.col(ngram_col), " ")
    keys = _backoff_keys(toks, n)
    lookup = build_stats_lookup(lm_counts, keys, ["cnt"], ngram_col)

    def c(tag: str) -> Column:
        return F.coalesce(F.col(f"_{tag}_cnt"), F.lit(0)).cast("double")

    branches: list[tuple[Column, Column]] = []
    # ends_with_oov / zero unigram count -> ud (vocab == counted unigrams)
    branches.append((c("s1") == 0, F.lit(ud)))
    s = c("s1") / F.lit(float(U))
    for i in range(2, n):  # middle orders
        nom, denom = c(f"s{i}"), c(f"h{i-1}")
        # miss below the top order: previous score takes ONE discount
        branches.append(((nom == 0) | (denom == 0), s * F.lit(discount)))
        s = nom / denom
    nom, denom = c(f"s{n}"), c(f"h{n-1}")
    branches.append(((nom == 0) | (denom == 0), s))  # top-order miss: no discount
    result = nom / denom
    for cond, val in reversed(branches):
        result = F.when(cond, val).otherwise(result)
    sb_log10 = F.when(F.size(toks) == n, F.log10(result))
    return _score_rows(ngrams_df, lookup, sb_log10.alias("sb_log10"))


def score_kn_join(
    ngrams_df: DataFrame,
    lm_counts: DataFrame,
    order: int,
    discount: float = -1.0,
    ngram_col: str = "ngram",
) -> DataFrame:
    """Join-based interpolated modified Kneser-Ney at arbitrary order n>=2 —
    the corpus-scale twin of ``LocalLM.kneser_ney``
    (lucenebased/KneserNeyLM.kn), reproduced branch-for-branch: the unigram
    continuation probability with its count/1-over-U early returns, the
    middle-order backoff chain with the nfp/nf/np max, the nf==0 pruning
    reset, the nfph==0 and pruned-nom fix-up early returns, the top-order
    zero-history fallback through the previous history, the punk
    unknown-word floor, and the final [punk, 1.0] clamp.

    The reference recursion's loop state (pkn, lp, nfh_prev, ch, sub_str)
    threads through column expressions; its early ``return``s become a
    first-match-wins CASE chain, so the whole scorer is one projection over
    one lookup of the ``build_kn_stats`` dimension — no per-row Python, no
    driver data besides the 12-number histogram. Rows whose ngram does not
    carry ``order`` tokens score NULL (loud, instead of a
    plausible-but-wrong score from empty join keys). Adds ``kn_log10``."""
    stats, consts = kn_join_setup(lm_counts, order, discount)
    return score_kn_join_with_stats(ngrams_df, stats, order, consts, ngram_col)


def kn_join_setup(
    lm_counts: DataFrame, order: int, discount: float = -1.0
) -> tuple[DataFrame, dict]:
    """One-time scoring-campaign setup for the join-based KN scorer: the
    per-ngram continuation dimension (persist/cache it — every scoring job
    joins against it) and the 12-number histogram constants (one tiny
    driver action). Split from ``score_kn_join`` so a crawl scores every
    round against the SAME prebuilt dimension instead of re-running the
    histogram job per round."""
    if order < 2:
        raise ValueError("order must be >= 2")
    stats = build_kn_stats(lm_counts)
    N, S = sum_ngrams_histogram(lm_counts)
    D = kn_discounts_from_histogram(N, order, discount)
    return stats, {"D": D, "U": N[1][0], "B": N[2][0], "S1": S[1]}


def kn_join_exprs(
    order: int, consts: dict, ngram_col: str = "ngram"
) -> tuple[dict[str, Column], Column]:
    """Build the KN stats keys and probability column ONCE — (keys,
    ``kn_log10`` column aliased as such). Pure unresolved Column trees over
    the fixed ``_{tag}_{col}`` names, so they are reusable across any
    number of scoring calls/DataFrames: a crawl builds them once per
    campaign (JoinScorer) instead of paying the ~0.5-1 s of serial py4j
    Column construction per round that rebuilding them costs at order 3+."""
    n = order
    D, U, B, S1 = consts["D"], consts["U"], consts["B"], consts["S1"]
    ud = (1.0 / B) * (D[1] / U)
    toks = F.split(F.col(ngram_col), " ")
    keys = _backoff_keys(toks, n)

    def col0(tag: str, c: str) -> Column:
        return F.coalesce(F.col(f"_{tag}_{c}"), F.lit(0)).cast("double")

    # punk: nf_total of the second-to-last word over B, times D1/U; ud when
    # that word has no successors (LocalLM._punk)
    nf_pe = col0("h1", "nf_tot")
    punk = F.when(nf_pe == 0, F.lit(ud)).otherwise(
        (nf_pe / F.lit(float(B))) * F.lit(D[1] / U)
    )
    branches: list[tuple[Column, Column]] = []
    c1 = col0("s1", "cnt")
    branches.append((c1 == 0, punk))  # ends_with_oov
    # unigram continuation: np_total(w_n)/B; zero-continuation early returns
    np1 = col0("s1", "np_tot")
    branches.append((np1 == 0, c1 / F.lit(float(S1))))  # c>0 here (oov already out)
    pkn: Column = np1 / F.lit(float(B))
    lp: Column = F.lit(0.0)
    nfh_prev: Column = F.lit(0.0)
    ch_prev: Column = F.lit(0.0)
    c_sub_prev: Column = F.lit(0.0)
    for i in range(2, n):  # middle orders; hist = h{i-1}, sub = s{i}
        nf_h = col0(f"h{i-1}", "nf_tot")
        nfph = F.greatest(nf_h, col0(f"h{i-1}", "np_tot"), col0(f"h{i-1}", "nfp_tot"))
        # nfph==0 early return, with the pruned-chain fix-up through the
        # PREVIOUS level's history when that level completed normally
        fix_ok = (ch_prev != 0) & (lp != 0) & (nfh_prev != 0)
        nom_fix = F.greatest(c_sub_prev - F.lit(float(D[i])), F.lit(0.0))
        pkn_fix = (
            F.when(nom_fix == 0, F.lit(0.0)).otherwise(nom_fix / ch_prev)
            + (F.lit(float(D[i])) / ch_prev) * nfh_prev * lp
        )
        branches.append((nfph == 0, F.when(fix_ok, pkn_fix).otherwise(pkn)))
        nfh = F.when(nf_h == 0, F.lit(1.0)).otherwise(nf_h)  # pruning reset (HACK)
        nom = F.greatest(col0(f"s{i}", "np_tot") - F.lit(float(D[i])), F.lit(0.0))
        pkn_new = (
            F.when(nom == 0, F.lit(0.0)).otherwise(nom / nfph)
            + (F.lit(float(D[i])) * nfh / nfph) * pkn
        )
        branches.append((nom == 0, pkn_new))  # pruned-nom early return
        lp, pkn = pkn, pkn_new
        nfh_prev = nfh
        ch_prev = col0(f"h{i-1}", "cnt")
        c_sub_prev = col0(f"s{i}", "cnt")
    # top order: hist = h{n-1} (the full n-1-word prefix), sub = the ngram
    ch_top = col0(f"h{n-1}", "cnt")
    nom_fb = F.greatest(c_sub_prev - F.lit(float(D[n])), F.lit(0.0))
    pkn_fb = (
        F.when(nom_fb == 0, F.lit(0.0)).otherwise(nom_fb / ch_prev)
        + (F.lit(float(D[n])) / ch_prev) * nfh_prev * lp
    )
    fb_cond = (lp != 0) & (nfh_prev != 0) & (ch_prev != 0)
    branches.append((ch_top == 0, F.when(fb_cond, pkn_fb).otherwise(pkn)))
    nfh_top = F.when(col0(f"h{n-1}", "nf_tot") == 0, F.lit(1.0)).otherwise(
        col0(f"h{n-1}", "nf_tot")
    )
    nom_top = F.greatest(col0(f"s{n}", "cnt") - F.lit(float(D[n])), F.lit(0.0))
    pkn_top = (
        F.when(nom_top == 0, F.lit(0.0)).otherwise(nom_top / ch_top)
        + (F.lit(float(D[n])) * nfh_top / ch_top) * pkn
    )
    result = pkn_top
    for cond, val in reversed(branches):
        result = F.when(cond, val).otherwise(result)
    prob = F.least(F.greatest(result, punk), F.lit(1.0))
    kn_log10 = F.when(F.size(toks) == n, F.log10(prob))
    return keys, kn_log10.alias("kn_log10")


def score_kn_join_with_stats(
    ngrams_df: DataFrame,
    stats: DataFrame,
    order: int,
    consts: dict,
    ngram_col: str = "ngram",
) -> DataFrame:
    """``score_kn_join`` against a prebuilt ``kn_join_setup`` dimension:
    arbitrary input rows, one lookup of ``stats`` per call."""
    keys, kn_log10 = kn_join_exprs(order, consts, ngram_col)
    lookup = build_stats_lookup(stats, keys, KN_STAT_COLS, ngram_col)
    return _score_rows(ngrams_df, lookup, kn_log10)
