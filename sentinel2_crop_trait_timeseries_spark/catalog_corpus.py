"""Corpus-health statistics for training-data curation: PSI snapshot
drift, Zipf rank-frequency slope, n-gram novelty vs a reference half,
and hapax/TTR lexical diversity.

The reference validates its reconstructed series with distribution
health checks — per-trait uncertainty histograms and inter-scene
consistency screens (src/02_extract_s2_traits.py:206-217's n_solutions
sensitivity, src/04_reconstruct_s2_traits.py:366's plausibility
bounds). This module is the corpus analog a pretraining-data pipeline
runs between ingestion snapshots: "did the token-length mix drift?"
(PSI), "does each source still look like natural language?" (Zipf
slope), "how much of the new crawl is actually new?" (n-gram novelty),
"is the vocabulary healthy or template spam?" (hapax share / TTR).

Exactness conventions (the catalog.py / catalog_ts.py house rules):
- every count/moment is a BIGINT aggregate — exact, order- and
  engine-independent;
- the few ln() values are snapped to the 1/2^20 dyadic grid as
  BIGINTs (``floor(x * 2^20 + 0.5)``, all operands non-negative so
  half-up == half-away) BEFORE any cross-row sum, so sums are integer
  sums — the fixed-point rule from ivf_train_kmeans / holt_linear.
  A 1-ulp libm ln() disagreement between engines flips a snap with
  probability ~2^-32 per value (the accepted tfidf_top_terms risk);
- each surfaced float is a single division of exact integers (or an
  exact dyadic), rounded with the standard ``round(1e-9 + x, _)``.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from sentinel2_crop_trait_timeseries_spark.catalog import (
    _SQL_SHINGLES,
    _SQL_SWORDS,
    _q,
    _shingles,
    _spread,
    _swords,
    _t,
)

_GRID = 1 << 20  # dyadic snap denominator for ln() values




# =====================================================================
# PSI snapshot drift (population stability index per source)
# =====================================================================

@_q(
    "psi_token_drift",
    f"""
    WITH n AS (
      SELECT source, doc_id % 2 AS half,
             length(bin(len(list_filter(
               regexp_split_to_array(text, '\\s+'), x -> x <> '')))) AS bucket
      FROM documents
      WHERE len(list_filter(regexp_split_to_array(text, '\\s+'),
                            x -> x <> '')) >= 1
    ),
    sb AS (
      SELECT source, bucket,
             cast(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS bigint) AS a_n,
             cast(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS bigint) AS b_n
      FROM n GROUP BY 1, 2
    ),
    tot AS (
      SELECT source, cast(sum(a_n) AS bigint) AS a_tot,
             cast(sum(b_n) AS bigint) AS b_tot,
             cast(count(*) AS bigint) AS k
      FROM sb GROUP BY 1
    ),
    terms AS (
      SELECT sb.source, tot.a_tot, tot.b_tot, tot.k,
             cast(floor(
               ((sb.a_n + 1) / cast(tot.a_tot + tot.k AS double)
                 - (sb.b_n + 1) / cast(tot.b_tot + tot.k AS double))
               * ln(((sb.a_n + 1) / cast(tot.a_tot + tot.k AS double))
                    / ((sb.b_n + 1) / cast(tot.b_tot + tot.k AS double)))
               * {_GRID} + 0.5) AS bigint) AS kterm
      FROM sb JOIN tot USING (source)
    )
    SELECT source, k AS n_buckets, a_tot AS n_docs_a, b_tot AS n_docs_b,
           cast(sum(kterm) AS bigint) AS psi_x2p20,
           cast(sum(kterm) AS double) / {_GRID} AS psi
    FROM terms GROUP BY 1, 2, 3, 4
    """,
)
def psi_token_drift(spark, sf_dir):
    """Population Stability Index of the per-doc token-count
    distribution between two ingestion snapshots (doc_id parity is the
    stand-in for snapshot A vs snapshot B), per source — the standard
    "did my crawl mix drift?" gate (PSI > 0.2 = investigate) run
    between corpus refreshes before a training run.

    Semantics: docs bucket by ``length(bin(n_words))`` — an EXACT
    integer floor(log2)+1 via the binary-string length, no libm log2
    at a power-of-two boundary; both halves are Laplace-smoothed
    (+1 over the source's observed bucket universe K) so no bucket
    has zero mass; PSI = sum over buckets of (p-q)*ln(p/q), each term
    snapped to the 1/2^20 grid as a BIGINT before the sum, so the
    surfaced ``psi_x2p20`` is an integer sum (order/engine-independent;
    terms are >= 0 since (p-q) and ln(p/q) share sign) and ``psi`` is
    the exact dyadic quotient.

    Scale shape: the per-doc word count is ``size(filter(split()))``
    — a narrow map, NO explode and NO per-word rows; the only
    exchange is one partial-agg groupBy on (source, half, bucket)
    whose output is at most sources x 2 x ~40 rows; everything after
    is driver-trivial. At 100 TB this is a single scan-shaped
    aggregation. Reference analog: the uncertainty-histogram screen
    over reconstructed traits (src/02_extract_s2_traits.py:206-217).
    """
    d = _t(spark, sf_dir, "documents")
    nw = F.size(F.filter(F.split("text", r"\s+"), lambda x: x != ""))
    n = d.select(
        "source",
        (F.col("doc_id") % 2).alias("half"),
        F.length(F.bin(nw)).cast("long").alias("bucket"),
        nw.alias("n_w"),
    ).filter(F.col("n_w") >= 1)
    sb = n.groupBy("source", "bucket").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("long")
        .alias("a_n"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("long")
        .alias("b_n"),
    )
    tot = sb.groupBy("source").agg(
        F.sum("a_n").cast("long").alias("a_tot"),
        F.sum("b_n").cast("long").alias("b_tot"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    p = (F.col("a_n") + 1) / (F.col("a_tot") + F.col("k")).cast("double")
    q = (F.col("b_n") + 1) / (F.col("b_tot") + F.col("k")).cast("double")
    kterm = F.floor((p - q) * F.log(p / q) * _GRID + 0.5).cast("long")
    terms = sb.join(F.broadcast(tot), "source").select(
        "source", "a_tot", "b_tot", "k", kterm.alias("kterm")
    )
    return terms.groupBy(
        "source",
        F.col("k").alias("n_buckets"),
        F.col("a_tot").alias("n_docs_a"),
        F.col("b_tot").alias("n_docs_b"),
    ).agg(
        F.sum("kterm").cast("long").alias("psi_x2p20"),
        (F.sum("kterm").cast("double") / _GRID).alias("psi"),
    )


# =====================================================================
# Zipf rank-frequency slope per source
# =====================================================================

_ZIPF_TOP = 64


@_q(
    "zipf_slope_source",
    f"""
    WITH w AS ({_SQL_SWORDS}),
    c AS (
      SELECT source, w, cast(count(*) AS bigint) AS c
      FROM w GROUP BY 1, 2
    ),
    r AS (
      SELECT source, c,
             cast(row_number() OVER (
               PARTITION BY source ORDER BY c DESC, w ASC
             ) AS bigint) AS rnk
      FROM c
    ),
    k AS (
      SELECT source,
             cast(floor(ln(cast(rnk AS double)) * {_GRID} + 0.5)
               AS bigint) AS kx,
             cast(floor(ln(cast(c AS double)) * {_GRID} + 0.5)
               AS bigint) AS ky
      FROM r WHERE rnk <= {_ZIPF_TOP}
    ),
    m AS (
      SELECT source, cast(count(*) AS bigint) AS n,
             cast(sum(kx) AS bigint) AS sx, cast(sum(ky) AS bigint) AS sy,
             cast(sum(kx * kx) AS bigint) AS sxx,
             cast(sum(kx * ky) AS bigint) AS sxy,
             cast(sum(ky * ky) AS bigint) AS syy
      FROM k GROUP BY 1
    )
    SELECT source, n AS n_ranks,
           n * sxy - sx * sy AS sxy_num,
           n * sxx - sx * sx AS sxx_num,
           round(1e-9 + cast(n * sxy - sx * sy AS double)
                   / nullif(cast(n * sxx - sx * sx AS double), 0), 6)
             AS zipf_slope,
           round(1e-9 + (cast(n * sxy - sx * sy AS double)
                          * cast(n * sxy - sx * sy AS double))
                   / nullif(cast(n * sxx - sx * sx AS double)
                          * cast(n * syy - sy * sy AS double), 0), 6)
             AS r2
    FROM m WHERE n >= 8
    """,
)
def zipf_slope_source(spark, sf_dir):
    """Zipf's-law exponent per source: regress ln(word frequency) on
    ln(rank) over each source's top-64 words. Natural language
    sits near slope -1; template/boilerplate spam flattens toward 0
    and ID-like noise steepens — the corpus-health screen run per
    source before mixing (Gopher's "does it look like language?"
    family, applied at the distribution level).

    Determinism: ranks use (count DESC, word ASC) — an exact-integer
    ordering; ln(rank) and ln(count) are snapped to the 1/2^20 grid as
    BIGINTs per row, so all five regression moments are exact int64
    sums (kx <= ln(64)*2^20 < 2^23, ky < 2^26, kx*ky < 2^49, 64 terms
    < 2^55, n*sxy < 2^61 — no overflow) and the slope/r2 are single
    double divisions of exact integers, grid factors cancelling.

    Scale shape: the token stream collapses to (source, word) counts
    FIRST (one partial-agg shuffle — the quality_lm convention); the
    top-64 window runs over the collapsed count table (|vocab| rows,
    not |tokens|), keyed by source. The DuckDB oracle is the same
    algorithm stated declaratively."""
    d = _t(spark, sf_dir, "documents")
    c = _swords(d).groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    win = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("w").asc()
    )
    r = c.select(
        "source", "c", F.row_number().over(win).cast("long").alias("rnk")
    ).filter(F.col("rnk") <= _ZIPF_TOP)
    k = r.select(
        "source",
        F.floor(F.log(F.col("rnk").cast("double")) * _GRID + 0.5)
        .cast("long")
        .alias("kx"),
        F.floor(F.log(F.col("c").cast("double")) * _GRID + 0.5)
        .cast("long")
        .alias("ky"),
    )
    m = k.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("kx").cast("long").alias("sx"),
        F.sum("ky").cast("long").alias("sy"),
        F.sum(F.col("kx") * F.col("kx")).cast("long").alias("sxx"),
        F.sum(F.col("kx") * F.col("ky")).cast("long").alias("sxy"),
        F.sum(F.col("ky") * F.col("ky")).cast("long").alias("syy"),
    ).filter(F.col("n") >= 8)
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    sst = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        "source",
        F.col("n").alias("n_ranks"),
        num.alias("sxy_num"),
        den.alias("sxx_num"),
        F.round(
            F.lit(1e-9)
            + num.cast("double") / F.nullif(den.cast("double"), F.lit(0.0)),
            6,
        ).alias("zipf_slope"),
        F.round(
            F.lit(1e-9)
            + (num.cast("double") * num.cast("double"))
            / F.nullif(den.cast("double") * sst.cast("double"), F.lit(0.0)),
            6,
        ).alias("r2"),
    )


# =====================================================================
# n-gram novelty vs a reference corpus half
# =====================================================================

@_q(
    "ngram_novelty_score",
    f"""
    WITH sh AS ({_SQL_SHINGLES}),
    ref AS (
      SELECT sh FROM sh WHERE doc_id % 2 = 0 GROUP BY 1
    ),
    agg AS (
      SELECT t.doc_id,
             cast(count(*) AS bigint) AS n_shingles,
             cast(count(*) - count(r.sh) AS bigint) AS n_novel
      FROM sh t LEFT JOIN ref r USING (sh)
      WHERE t.doc_id % 2 = 1
      GROUP BY 1
    )
    SELECT doc_id, n_shingles, n_novel,
           round(1e-9 + n_novel / cast(n_shingles AS double), 4)
             AS novelty_frac
    FROM agg
    """,
)
def ngram_novelty_score(spark, sf_dir):
    """Per-document novelty of a new crawl half against the existing
    corpus half: the share of a probe doc's distinct 3-word shingles
    that appear NOWHERE in the reference half (doc_id parity splits
    the roles). The inverse of decontaminate_overlap's question —
    there the held-out side is tiny and broadcast; here the reference
    is THE CORPUS, so this measures how much genuinely new text a
    refresh brings (dedup-adjacent: novelty ~ 0 means the crawl is a
    re-crawl and not worth tokenizing).

    Scale shape: the reference shingle vocabulary is corpus-sized in
    production, so the join carries NO broadcast hint — the probe-side
    shingles meet it in a plain equi-join on the shingle (the tfidf
    vocab rationale), 1:1 after the per-shingle GROUP BY so per-doc
    counts stay exact; per-doc rollup is the second and last exchange.
    At fixture scale AQE measures the reference side small and
    broadcasts it (correct adaptive behavior); with broadcast off the
    plan degrades to a sort-merge join, never a nested loop
    (pinned by test_corpus_batch.py). All
    outputs are exact integers plus one single-division ratio; every
    probe doc with >= 1 shingle is surfaced (fully-novel docs
    included, unlike decontaminate's hits-only output)."""
    sh = _shingles(_t(spark, sf_dir, "documents"))
    ref = sh.filter(F.col("doc_id") % 2 == 0).select("sh").groupBy("sh").agg(
        F.lit(1).alias("hit")
    )
    probe = sh.filter(F.col("doc_id") % 2 == 1)
    agg = (
        probe.join(ref, "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            (F.count(F.lit(1)) - F.count("hit")).cast("long").alias("n_novel"),
        )
    )
    return agg.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        F.round(
            F.lit(1e-9)
            + F.col("n_novel") / F.col("n_shingles").cast("double"),
            4,
        ).alias("novelty_frac"),
    )


# =====================================================================
# Hapax / type-token lexical diversity per source
# =====================================================================

@_q(
    "hapax_lexical_diversity",
    f"""
    WITH w AS ({_SQL_SWORDS}),
    c AS (
      SELECT source, w, cast(count(*) AS bigint) AS c
      FROM w GROUP BY 1, 2
    )
    SELECT source,
           cast(sum(c) AS bigint) AS n_tokens,
           cast(count(*) AS bigint) AS n_types,
           cast(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS bigint)
             AS n_hapax,
           round(1e-9 + count(*) / cast(sum(c) AS double), 6) AS ttr,
           round(1e-9 + sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                   / cast(count(*) AS double), 6) AS hapax_share
    FROM c GROUP BY 1
    """,
)
def hapax_lexical_diversity(spark, sf_dir):
    """Lexical-diversity profile per source: total tokens, vocabulary
    size (types), hapax legomena (words occurring exactly once), the
    type-token ratio, and the hapax share of the vocabulary. Healthy
    natural text keeps a large hapax share (Zipf's tail); template
    spam and machine-generated boilerplate collapse it — the cheap
    screen run next to zipf_slope_source before a source enters the
    training mixture (and the Heaps'-law input for vocabulary-growth
    planning of the BPE tokenizer, docs:2480).

    Scale shape: exactly the quality_lm collapse — the token stream
    reduces to (source, word) counts in one partial-agg shuffle; the
    per-source rollup aggregates the collapsed vocab table (second,
    much smaller exchange). All outputs exact BIGINTs plus two
    single-division ratios."""
    d = _t(spark, sf_dir, "documents")
    c = _swords(d).groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    one = F.lit(1)
    zero = F.lit(0)
    return c.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(one).cast("long").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, one).otherwise(zero))
        .cast("long")
        .alias("n_hapax"),
        F.round(
            F.lit(1e-9) + F.count(one) / F.sum("c").cast("double"), 6
        ).alias("ttr"),
        F.round(
            F.lit(1e-9)
            + F.sum(F.when(F.col("c") == 1, one).otherwise(zero))
            / F.count(one).cast("double"),
            6,
        ).alias("hapax_share"),
    )


# =====================================================================
# PMI collocations (top word pairs per source)
# =====================================================================

_PMI_MIN_C12 = 3
_PMI_TOPK = 5


@_q(
    "pmi_collocations_topk",
    f"""
    WITH bg AS (
      SELECT source, ws[i] AS w1, ws[i+1] AS w2
      FROM (SELECT source,
                   list_filter(regexp_split_to_array(text, '\\s+'),
                               x -> x <> '') AS ws
            FROM documents),
           LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) t
      WHERE len(ws) >= 2
    ),
    c12 AS (
      SELECT source, w1, w2, cast(count(*) AS bigint) AS c12
      FROM bg GROUP BY 1, 2, 3
    ),
    u AS (
      SELECT source, w, cast(count(*) AS bigint) AS c FROM
        (SELECT source, w1 AS w FROM bg UNION ALL
         SELECT source, w2 AS w FROM bg)
      GROUP BY 1, 2
    ),
    n AS (
      SELECT source, cast(count(*) AS bigint) AS nbg FROM bg GROUP BY 1
    ),
    scored AS (
      SELECT c12.source, c12.w1, c12.w2, c12.c12, u1.c AS c1, u2.c AS c2,
             ln(cast(c12.c12 AS double) * cast(2 * n.nbg AS double)
                / (cast(u1.c AS double) * cast(u2.c AS double))) AS pmi
      FROM c12
      JOIN u u1 ON u1.source = c12.source AND u1.w = c12.w1
      JOIN u u2 ON u2.source = c12.source AND u2.w = c12.w2
      JOIN n ON n.source = c12.source
      WHERE c12.c12 >= {_PMI_MIN_C12}
    ),
    ranked AS (
      SELECT source, w1, w2, c12, c1, c2,
             round(1e-9 + pmi, 4) AS pmi,
             cast(row_number() OVER (
               PARTITION BY source
               ORDER BY round(1e-9 + pmi, 2) DESC, c12 DESC, w1 ASC, w2 ASC
             ) AS bigint) AS rank
      FROM scored
    )
    SELECT source, w1, w2, c12, c1, c2, pmi, rank
    FROM ranked WHERE rank <= {_PMI_TOPK}
    """,
)
def pmi_collocations_topk(spark, sf_dir):
    """Top-5 collocations per source by pointwise mutual information
    over adjacent word pairs — the classic multiword-expression
    extractor (Church & Hanks 1990), used in curation to spot
    template/boilerplate sources (a handful of enormously
    over-represented bigrams) and to seed tokenizer merge candidates
    next to bpe_train_merges. PMI = ln(c12 * T / (c1 * c2)) where the
    unigram counts c1/c2 and total T are taken over the bigram-slot
    stream (each bigram contributes both its words), and pairs below
    {_PMI_MIN_C12} occurrences are dropped as noise.

    Determinism: the tfidf_top_terms recipe — the window ranks on the
    PMI SNAPPED TO 2 DP with exact-integer tiebreaks (c12 DESC,
    w1 ASC, w2 ASC), so a 1-ulp libm ln() disagreement between engines
    cannot reorder ranks unless it crosses a 5e-3 boundary; the
    displayed pmi uses the standard nudge-round to 4 dp; c12/c1/c2/T
    are exact BIGINTs.

    Scale shape: bigrams are generated IN-ROW (materialized word
    array, the _shingles lesson — no O(len^2) lambda re-evaluation)
    and immediately collapsed to (source, w1, w2) counts — the only
    full-stream shuffle. Unigram-slot counts reuse the same bigram
    frame; the two count tables meet by SHUFFLE equi-joins (vocab is
    never broadcastable at corpus scale; per-source totals ARE
    broadcast — a sources-sized frame). Top-5 is a keyed window over
    the already-collapsed pair table."""
    d = _t(spark, sf_dir, "documents")
    ws = F.filter(F.split("text", r"\s+"), lambda x: x != "")
    base = _spread(d).select("source", ws.alias("ws")).filter(F.size("ws") >= 2)
    pairs = F.transform(
        F.sequence(F.lit(0), F.size("ws") - 2),
        lambda i: F.struct(
            F.get("ws", i).alias("w1"), F.get("ws", i + 1).alias("w2")
        ),
    )
    bg = base.select(
        "source", F.explode(pairs).alias("p")
    ).select("source", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    c12 = bg.groupBy("source", "w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c12")
    )
    slots = bg.select("source", F.col("w1").alias("w")).unionAll(
        bg.select("source", F.col("w2").alias("w"))
    )
    u = slots.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    n = bg.groupBy("source").agg(
        (2 * F.count(F.lit(1))).cast("long").alias("t_slots")
    )
    u1 = u.select("source", F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = u.select("source", F.col("w").alias("w2"), F.col("c").alias("c2"))
    scored = (
        c12.filter(F.col("c12") >= _PMI_MIN_C12)
        .join(u1, ["source", "w1"])
        .join(u2, ["source", "w2"])
        .join(F.broadcast(n), "source")
        .select(
            "source",
            "w1",
            "w2",
            "c12",
            "c1",
            "c2",
            F.log(
                F.col("c12").cast("double")
                * F.col("t_slots").cast("double")
                / (F.col("c1").cast("double") * F.col("c2").cast("double"))
            ).alias("pmi_raw"),
        )
    )
    win = Window.partitionBy("source").orderBy(
        F.round(F.lit(1e-9) + F.col("pmi_raw"), 2).desc(),
        F.col("c12").desc(),
        F.col("w1").asc(),
        F.col("w2").asc(),
    )
    return (
        scored.select(
            "source",
            "w1",
            "w2",
            "c12",
            "c1",
            "c2",
            F.round(F.lit(1e-9) + F.col("pmi_raw"), 4).alias("pmi"),
            F.row_number().over(win).cast("long").alias("rank"),
        )
        .filter(F.col("rank") <= _PMI_TOPK)
    )
