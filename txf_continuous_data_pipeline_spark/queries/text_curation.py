"""Documents-table CURATION queries (split from queries/text.py,
r12): quality scoring/filtering, PII, mixtures/packing/splits,
manifests, datasheets, calibration. Pure move - behavior, oracles,
and registration names unchanged."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.dedup import (
    H60_MOD,
    shingles_exploded,
    dropDuplicates_exact,
    exact_dedup_groups,
    minhash_lane_constants,
    minhash_neardup_pairs,
    normalized_tokens,
    shingle_array,
    simhash_neardup_pairs,
    token_shingles,
)
from ..operators.textstats import (
    LANG_MARKERS,
    curate_corpus,
    doc_fingerprint,
    text_stats,
)
from ..sources import read_table
from .registry import artifact, corpus_key, q, scratch_dir
from .text_common import (  # noqa: F401
    _NEARDUP_COMP_CTES,
    _SHINGLES,
    _TOKS,
    _dup_span_removal_sql,
    _h60_sql,
    _hash_feats,
    _neardup_components,
    _shared_pairs,
)


def _sql_marker_list(markers):
    return "[" + ", ".join(f"'{m}'" for m in markers) + "]"


def _lang_guess_sql() -> str:
    """Mirror of textstats.lang_guess: running argmax with dict-order
    tie-break, built as nested CASE chain."""
    guess, best = "'und'", "0"
    for lang, markers in LANG_MARKERS.items():
        hits = f"len(list_filter({_TOKS}, t -> list_contains({_sql_marker_list(markers)}, t)))"
        guess = f"(CASE WHEN {hits} > {best} THEN '{lang}' ELSE {guess} END)"
        best = f"greatest({hits}, {best})"
    return guess


_ALL_MARKERS = tuple(m for ms in LANG_MARKERS.values() for m in ms)

_STATS_SQL = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_actual,
       CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct({_TOKS})) AS BIGINT) AS n_uniq_tokens,
       round(CAST(list_sum(list_transform({_TOKS}, t -> length(t))) AS DOUBLE)
             / greatest(len({_TOKS}), 1), 6) AS avg_token_len,
       round(CAST(length(regexp_replace(text, '[\\w\\s]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1), 6) AS punct_ratio,
       round(CAST(len(list_filter({_TOKS},
                 t -> list_contains({_sql_marker_list(_ALL_MARKERS)}, t))) AS DOUBLE)
             / greatest(len({_TOKS}), 1), 6) AS stopword_ratio,
       round(least(len({_TOKS}) / 50.0, 1.0)
             * (0.5 + least((CAST(len(list_filter({_TOKS},
                   t -> list_contains({_sql_marker_list(_ALL_MARKERS)}, t))) AS DOUBLE)
                 / greatest(len({_TOKS}), 1)) * 5.0, 1.0) * 0.5)
             * (1.0 - least((CAST(length(regexp_replace(text, '[\\w\\s]', '', 'g')) AS DOUBLE)
                 / greatest(length(text), 1)) * 2.0, 1.0)), 6) AS quality_score,
       {_lang_guess_sql()} AS lang_guess
FROM documents
"""


@q("text_stats", _STATS_SQL)
def text_stats_q(spark, sf_dir):
    """Per-document token counts, length/punct/stopword ratios, quality
    score and heuristic language guess - all JVM column expressions."""
    df = text_stats(read_table(spark, sf_dir, "documents"))
    return df.select(
        "doc_id",
        F.col("n_chars_actual").cast("long").alias("n_chars_actual"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_uniq_tokens").cast("long").alias("n_uniq_tokens"),
        "avg_token_len",
        "punct_ratio",
        "stopword_ratio",
        "quality_score",
        "lang_guess",
    )


_REGEX_SQL = """
SELECT word, count(*) AS n
FROM (SELECT regexp_extract(lower(text), '([a-z]{7,})', 1) AS word FROM documents)
WHERE word <> ''
GROUP BY word
ORDER BY n DESC, word
LIMIT 15
"""


@q("regex_top_words", _REGEX_SQL)
def regex_top_words(spark, sf_dir):
    """Regex extraction in the scan projection: first >=7-letter word per
    document, corpus frequency top-15. regexp_extract stays inside
    whole-stage codegen; the only exchange is the final group-count."""
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.regexp_extract(F.lower(F.col("text")), "([a-z]{7,})", 1).alias(
                "word"
            )
        )
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(15)
    )


_SAMPLE_SQL = """
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
      < (CASE WHEN lang = 'en' THEN '8' ELSE '4' END)
"""


@q("stratified_sample_docs", _SAMPLE_SQL)
def stratified_sample_docs(spark, sf_dir):
    """Deterministic stratified sampling: keep a doc iff the first hex
    digit of md5(doc_id) falls under the stratum's threshold (en: 8/16 =
    50%, other langs 4/16 = 25%). Unlike rand()/sampleBy this is
    reproducible across engines and runs, embarrassingly parallel (pure
    per-row predicate, no shuffle, no state), and stable under
    re-partitioning - the property a 100-TB curation pipeline needs so a
    re-run selects the identical subset."""
    docs = read_table(spark, sf_dir, "documents")
    digit = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    thresh = F.when(F.col("lang") == "en", F.lit("8")).otherwise(F.lit("4"))
    return docs.where(digit < thresh).select(
        "doc_id", "lang", "source", "n_chars"
    )


_CURATE_SQL = f"""
WITH stats AS (
  SELECT doc_id, lang, md5(text) AS digest,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
         CAST(length(regexp_replace(text, '[\\w\\s]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS punct
  FROM documents
), filtered AS (
  SELECT * FROM stats WHERE n_tokens >= 10 AND punct <= 0.25
), deduped AS (
  SELECT * FROM filtered
  QUALIFY row_number() OVER (PARTITION BY digest ORDER BY doc_id) = 1
), budgeted AS (
  SELECT doc_id, lang, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY lang
                                  ORDER BY n_tokens DESC, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM deduped
)
SELECT doc_id, lang, n_tokens, cum_tokens FROM budgeted
WHERE cum_tokens <= 20000
"""


@q("training_data_curation", _CURATE_SQL)
def training_data_curation(spark, sf_dir):
    """Flagship curation pipeline: quality filter -> exact dedup ->
    per-language token budget, one declarative plan (see
    operators/textstats.curate_corpus for the scale analysis)."""
    return curate_corpus(read_table(spark, sf_dir, "documents"))


_PACK_SQL = f"""
WITH sized AS (
  SELECT doc_id, source,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, source, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
                PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS tok_before
  FROM sized
)
SELECT doc_id, source, n_tokens,
       CAST(floor(tok_before / 256.0) AS BIGINT) AS seq_index,
       CAST(tok_before % 256 AS BIGINT) AS seq_offset,
       CAST(floor((tok_before + n_tokens - 1) / 256.0) AS BIGINT)
         > CAST(floor(tok_before / 256.0) AS BIGINT) AS spans_boundary
FROM c
"""


@q("pack_sequences", _PACK_SQL)
def pack_sequences_q(spark, sf_dir):
    """Concat-and-chunk sequence packing into 256-token training
    sequences, sharded by source (see operators/textstats.pack_sequences
    for the scale analysis: one window exchange on the shard key, no
    global sort, boundary-crossing docs flagged)."""
    from ..operators.textstats import pack_sequences

    return pack_sequences(
        read_table(spark, sf_dir, "documents"), seq_tokens=256
    )


# The mixture POLICY (src0-4 upweighted 2x, 12k-token budget) lives
# exactly once per engine: _mixture_weight() for the Spark queries and
# _MIXTURE_KEPT_CTES for their oracles - mixture_sample and
# training_mix_pack both consume these, so the audited sample and the
# exported pack can never silently diverge (r10 review).
_MIXTURE_KEPT_CTES = f"""
sized AS (
  SELECT doc_id, source,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
         CASE WHEN CAST(substring(source, 4) AS INTEGER) < 5
              THEN CAST(2.0 AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END AS w
  FROM documents
), dim AS (
  SELECT source, max(w) AS w, CAST(sum(n_tokens) AS DOUBLE) AS toks
  FROM sized GROUP BY source
), rated AS (
  SELECT source,
         least(CAST(1.0 AS DOUBLE),
               CAST(12000.0 AS DOUBLE) * (w / sum(w) OVER ()) / toks)
           AS rate
  FROM dim
), kept AS (
  SELECT s.doc_id, s.source, s.n_tokens, r.rate
  FROM sized s JOIN rated r USING (source)
  WHERE r.rate >= 1.0
     OR substring(md5(CAST(s.doc_id AS VARCHAR)), 1, 8)
        < lpad(lower(to_hex(CAST(floor(r.rate * 4294967296.0)
                                 AS BIGINT))), 8, '0')
)"""


def _mixture_weight():
    """The Spark-side mixture weight expression (same policy as the
    CASE in _MIXTURE_KEPT_CTES)."""
    return F.when(
        F.substring(F.col("source"), 4, 10).cast("int") < 5, F.lit(2.0)
    ).otherwise(F.lit(1.0))


_MIXTURE_SQL = f"""
WITH {_MIXTURE_KEPT_CTES}
SELECT doc_id, source, n_tokens, round(rate, 6) AS keep_rate
FROM kept
"""


@q("mixture_sample", _MIXTURE_SQL)
def mixture_sample_q(spark, sf_dir):
    """Mixture-weighted deterministic sampling: rebalance the 20 sources
    toward a target mixture (src0-4 upweighted 2x) under a 12k-token
    budget (see operators/textstats.mixture_sample: tiny broadcast dim +
    pure per-row md5 predicate, zero fact-table shuffle)."""
    from ..operators.textstats import mixture_sample

    docs = read_table(spark, sf_dir, "documents")
    return mixture_sample(
        docs, weight=_mixture_weight(), budget_tokens=12000
    )


_TRAIN_MIX_PACK_SQL = f"""
WITH {_MIXTURE_KEPT_CTES}, c AS (
  SELECT doc_id, source, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
                PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS tok_before
  FROM kept
), p AS (
  SELECT source, n_tokens,
         CAST(floor((tok_before + n_tokens - 1) / 256.0) AS BIGINT)
           > CAST(floor(tok_before / 256.0) AS BIGINT) AS spans
  FROM c
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(ceil(sum(n_tokens) / 256.0) AS BIGINT) AS n_sequences,
       CAST(CAST(ceil(sum(n_tokens) / 256.0) AS BIGINT) * 256
            - sum(n_tokens) AS BIGINT) AS pad_tail_tokens,
       CAST(count(*) FILTER (WHERE spans) AS BIGINT) AS n_boundary_docs
FROM p GROUP BY source
"""


@q("training_mix_pack", _TRAIN_MIX_PACK_SQL)
def training_mix_pack_q(spark, sf_dir):
    """The training-set LAST MILE, composed: mixture-weighted
    deterministic sampling (src0-4 upweighted 2x under the 12k-token
    budget - mixture_sample's exact semantics) feeds concat-and-chunk
    packing into 256-token sequences per source shard
    (pack_sequences), and the report a loader config consumes comes
    out: per source, kept docs/tokens, sequence count, tail padding
    waste, and boundary-crossing docs. Each stage reuses the
    standalone operator; the whole composition is value-checked by
    one chained-CTE oracle (the web_pipeline_funnel discipline
    applied to the export side). Scale shape: one tiny broadcast rate
    dim + a per-row md5 keep predicate (zero fact shuffle), one
    window exchange on the shard key, one map-side-combined
    per-source aggregate."""
    from ..operators.textstats import mixture_sample, pack_sequences

    docs = read_table(spark, sf_dir, "documents")
    kept_ids = mixture_sample(
        docs, weight=_mixture_weight(), budget_tokens=12000
    ).select("doc_id")
    kept_docs = docs.join(kept_ids, "doc_id", "left_semi")
    packed = pack_sequences(kept_docs, seq_tokens=256)
    seqs = F.ceil(F.sum("n_tokens") / F.lit(256.0)).cast("long")
    return packed.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        seqs.alias("n_sequences"),
        (seqs * 256 - F.sum("n_tokens")).cast("long").alias(
            "pad_tail_tokens"
        ),
        F.count_if(F.col("spans_boundary")).cast("long").alias(
            "n_boundary_docs"
        ),
    )


def _ngram_sql(n: int) -> str:
    """DuckDB word-n-gram list over the _TOKS token array (1-based
    indexing; range() is exclusive-end so short docs yield [])."""
    parts = " || ' ' || ".join(f"t[i + {j}]" for j in range(n))
    return (
        f"list_transform(range(1, len(t) - {n - 2}), i -> {parts})"
    )


def _repetition_sql(n: int = 2) -> str:
    # Same metrics as operators/textstats._repetition_cols, via the
    # relational route (unnest -> group by) instead of the sorted-run
    # fold - structurally different computations agreeing on values.
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
ex AS (SELECT doc_id, unnest({_ngram_sql(n)}) AS ng FROM toks),
cnt AS (SELECT doc_id, ng, count(*) AS c FROM ex GROUP BY doc_id, ng),
agg AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_ngrams,
         CAST(max(c) AS BIGINT) AS top_ngram_count,
         CAST(coalesce(sum(c) FILTER (WHERE c > 1), 0) AS BIGINT)
           AS dup_ngram_occurrences
  FROM cnt GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(a.n_ngrams, 0) AS BIGINT) AS n_ngrams,
       CAST(coalesce(a.top_ngram_count, 0) AS BIGINT) AS top_ngram_count,
       CAST(coalesce(a.dup_ngram_occurrences, 0) AS BIGINT)
         AS dup_ngram_occurrences,
       round(coalesce(a.top_ngram_count / a.n_ngrams, 0), 6)
         AS top_ngram_frac,
       round(coalesce(a.dup_ngram_occurrences / a.n_ngrams, 0), 6)
         AS dup_ngram_frac
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


@q("repetition_stats", _repetition_sql(2))
def repetition_stats_q(spark, sf_dir):
    """Gopher-style word-bigram repetition metrics per document (top
    n-gram count/fraction, duplicated n-gram occurrences/fraction) -
    the repetition signal of web-scrape filtering, as a zero-shuffle
    sorted-run fold (operators/textstats.ngram_repetition_stats)."""
    from ..operators.textstats import ngram_repetition_stats

    docs = read_table(spark, sf_dir, "documents")
    return ngram_repetition_stats(docs, n=2)


def _gopher_sql() -> str:
    from ..operators.textstats import GOPHER_THRESHOLDS as T

    def rep_frac(n: int, which: str) -> str:
        agg = (
            "max(c)"
            if which == "top"
            else "coalesce(sum(c) FILTER (WHERE c > 1), 0)"
        )
        return f"""
  SELECT doc_id, round({agg} / sum(c), 6) AS f
  FROM (
    SELECT doc_id, ng, count(*) AS c FROM (
      SELECT doc_id, unnest({_ngram_sql(n)}) AS ng
      FROM toks
    ) GROUP BY doc_id, ng
  ) GROUP BY doc_id
"""

    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
base AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         CASE WHEN len(t) > 0
              THEN CAST(list_sum(list_transform(t, x -> length(x)))
                        AS DOUBLE) / len(t)
              ELSE 0.0 END AS mwl
  FROM toks
),
bi AS ({rep_frac(2, "top")}),
tri AS ({rep_frac(3, "dup")})
SELECT b.doc_id,
       b.n_tokens,
       round(b.mwl, 6) AS mean_word_len,
       (b.n_tokens >= {T["min_tokens"]}
        AND b.n_tokens <= {T["max_tokens"]}) AS flag_tokens,
       (b.mwl >= {T["min_mean_word_len"]}
        AND b.mwl <= {T["max_mean_word_len"]}) AS flag_word_len,
       (coalesce(bi.f, 0) <= {T["max_top_bigram_frac"]}) AS flag_top_bigram,
       (coalesce(tri.f, 0) <= {T["max_dup_trigram_frac"]})
         AS flag_dup_trigram,
       ((b.n_tokens >= {T["min_tokens"]}
         AND b.n_tokens <= {T["max_tokens"]})
        AND (b.mwl >= {T["min_mean_word_len"]}
             AND b.mwl <= {T["max_mean_word_len"]})
        AND (coalesce(bi.f, 0) <= {T["max_top_bigram_frac"]})
        AND (coalesce(tri.f, 0) <= {T["max_dup_trigram_frac"]})) AS keep
FROM base b
LEFT JOIN bi USING (doc_id)
LEFT JOIN tri USING (doc_id)
"""


@q("gopher_filter", _gopher_sql())
def gopher_filter_q(spark, sf_dir):
    """Gopher-rule document filter (token bounds, mean word length,
    top-bigram / duplicate-trigram repetition caps) with per-rule
    boolean flags and the conjunctive keep decision - one zero-shuffle
    pass (operators/textstats.gopher_quality_flags)."""
    from ..operators.textstats import gopher_quality_flags

    docs = read_table(spark, sf_dir, "documents")
    return gopher_quality_flags(docs)


_SPLIT_SQL = """
WITH b AS (
  SELECT doc_id, lang, source,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) AS bucket
  FROM documents
)
SELECT doc_id, lang, source,
       CASE WHEN bucket < 214748364 THEN 'test'
            WHEN bucket < 429496729 THEN 'val'
            ELSE 'train' END AS split
FROM b
"""


@q("split_assign", _SPLIT_SQL)
def split_assign_q(spark, sf_dir):
    """Deterministic hash-based train/val/test assignment (5%/5%/90%) -
    reproducible across engines and stable under corpus growth, unlike
    rand() splits (operators/textstats.split_assign; zero shuffle)."""
    from ..operators.textstats import split_assign

    docs = read_table(spark, sf_dir, "documents")
    return split_assign(docs).select("doc_id", "lang", "source", "split")


def _curation_sql() -> str:
    """End-to-end curation mirror: gopher keep -> exact-dedup keep-min
    -> span removal -> content-grouped split -> per-split accounting.
    Stage mirrors are the SAME generators the standalone queries use
    (nested-WITH subqueries), so the composition cannot drift from the
    pieces."""
    return f"""
WITH keepers AS (
  SELECT doc_id FROM ({_gopher_sql()}) g WHERE g.keep
),
survivors AS (
  SELECT d.doc_id, d.text FROM documents d JOIN keepers USING (doc_id)
),
kept1 AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY md5(text)
                              ORDER BY doc_id) AS rn
    FROM survivors
  ) WHERE rn = 1
),
cleaned AS (
  SELECT * FROM ({_dup_span_removal_sql("kept1")})
),
banded AS (
  SELECT n_tokens, n_tokens_removed,
         CAST(('0x' || substring(md5(md5(text)), 1, 8))
              AS BIGINT) AS bucket
  FROM cleaned
)
SELECT CASE WHEN bucket < 214748364 THEN 'test'
            WHEN bucket < 429496729 THEN 'val'
            ELSE 'train' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens - n_tokens_removed) AS BIGINT) AS n_tokens_kept,
       CAST(sum(n_tokens_removed) AS BIGINT) AS n_tokens_removed
FROM banded
GROUP BY 1
"""


@q("curation_pipeline", _curation_sql())
def curation_pipeline_q(spark, sf_dir):
    """The full training-data curation flow as ONE composed plan - what
    a user of this engine actually runs before a training job (the
    deeper sibling of training_data_curation's filter->dedup->budget
    flow): Gopher quality gate -> exact dedup (keep the smallest id per content
    digest, 16-byte keys on the wire) -> cross-doc duplicated-span
    excision -> leakage-safe split grouped on the CLEANED content
    digest (docs that become identical after span removal can never
    straddle train/test) -> per-split doc and token accounting. Every
    stage is individually oracle-verified (gopher_filter,
    dedup_exact_keep, dup_span_removal, leakage_safe_split); this query
    verifies their composition value-level. Scale posture: each stage
    keys its shuffle on a digest/hash or the doc id - the composition
    adds no new shuffle class beyond its pieces."""
    from pyspark.sql import functions as F

    from ..operators.dedup import remove_duplicated_spans
    from ..operators.textstats import (
        gopher_quality_flags,
        grouped_split_assign,
    )

    docs = read_table(spark, sf_dir, "documents")
    keep_ids = (
        gopher_quality_flags(docs).where(F.col("keep")).select("doc_id")
    )
    survivors = docs.join(keep_ids, "doc_id", "left_semi").select(
        "doc_id", "text"
    )
    # exact dedup: digest first so the shuffle carries 16-byte keys,
    # winners come back as an id semi-join (exact_dedup_groups shape)
    winners = (
        survivors.select(F.md5("text").alias("_d"), "doc_id")
        .groupBy("_d")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept1 = survivors.join(winners, "doc_id", "left_semi")
    cleaned = remove_duplicated_spans(kept1, n=5, min_df=2)
    banded = grouped_split_assign(
        cleaned, group_col=F.md5(F.col("text"))
    )
    return banded.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("n_tokens") - F.col("n_tokens_removed"))
        .cast("long")
        .alias("n_tokens_kept"),
        F.sum("n_tokens_removed").cast("long").alias("n_tokens_removed"),
    )


#: literal weights of the linear quality classifier (a trained
#: fasttext/logreg-style filter's deployment shape: the model ships as
#: plan literals, scoring is a pure projection)
_QC_WEIGHTS = {
    "bias": -1.2,
    "n_tokens": 0.03,
    "stopword_ratio": 4.0,
    "punct_ratio": -6.0,
}

_QC_Z = (
    f"({_QC_WEIGHTS['bias']} + {_QC_WEIGHTS['n_tokens']} * len({_TOKS})"
    f" + {_QC_WEIGHTS['stopword_ratio']}"
    f" * (CAST(len(list_filter({_TOKS},"
    f" t -> list_contains({_sql_marker_list(_ALL_MARKERS)}, t))) AS DOUBLE)"
    f" / greatest(len({_TOKS}), 1))"
    f" + {_QC_WEIGHTS['punct_ratio']}"
    f" * (CAST(length(regexp_replace(text, '[\\w\\s]', '', 'g')) AS DOUBLE)"
    f" / greatest(length(text), 1)))"
)

_QC_SQL = f"""
SELECT doc_id,
       round(1.0 / (1.0 + exp(-{_QC_Z})), 6) AS quality_prob,
       ({_QC_Z} >= 0.0) AS keep
FROM documents
"""


@q("quality_classifier", _QC_SQL)
def quality_classifier_q(spark, sf_dir):
    """Model-based quality filtering in its deployment shape: a linear
    classifier over cheap text features (token count, stopword ratio,
    punctuation ratio) with LITERAL weights riding in the plan - the
    way a trained fasttext/logistic quality model actually runs inside
    a 100-TB pipeline (pure projection, zero shuffle, no model server).
    The keep decision compares the logit against 0 (exact on both
    engines); the probability is reported at 6 dp."""
    from ..operators.textstats import punct_ratio, stopword_ratio, token_count

    docs = read_table(spark, sf_dir, "documents")
    text = F.col("text")
    w = _QC_WEIGHTS
    z = (
        F.lit(w["bias"])
        + F.lit(w["n_tokens"]) * token_count(text)
        + F.lit(w["stopword_ratio"]) * stopword_ratio(text)
        + F.lit(w["punct_ratio"]) * punct_ratio(text)
    )
    return docs.select(
        "doc_id",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias(
            "quality_prob"
        ),
        (z >= 0.0).alias("keep"),
    )


def _pii_sql() -> str:
    """DuckDB mirror of operators.textstats.pii_stats: RE2 count via
    len(regexp_extract_all). Patterns are shared literals from
    PII_PATTERNS, so the two engines can never drift apart."""
    from ..operators.textstats import PII_PATTERNS

    def esc(p: str) -> str:
        return p.replace("'", "''")

    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(text, '{esc(pat)}')) AS BIGINT)"
        f" AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    total = " + ".join(
        f"len(regexp_extract_all(text, '{esc(pat)}'))"
        for _, pat, _ in PII_PATTERNS
    )
    return f"""
SELECT doc_id,
       {counts},
       ({total}) > 0 AS has_pii
FROM documents
"""


@q("pii_stats", _pii_sql())
def pii_stats_q(spark, sf_dir):
    """PII surface detection per document (emails / dotted-quad IPs /
    phone-shaped numbers) - the detection half of the standard
    pretraining redaction pass; the redaction half (redact_pii) is
    pytest-proven on planted PII since the synthetic corpus contains
    none. Zero-shuffle regexp projection."""
    from ..operators.textstats import pii_stats

    return pii_stats(read_table(spark, sf_dir, "documents"))


_CHUNK_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
n AS (
  SELECT doc_id, toks,
         greatest((len(toks) - 16 + 47) // 48, 1) AS n_chunks
  FROM t
),
e AS (
  SELECT doc_id, toks, unnest(generate_series(0, n_chunks - 1)) AS i
  FROM n
)
SELECT doc_id, i AS chunk_id,
       array_to_string(toks[i * 48 + 1 : i * 48 + 64], ' ') AS chunk_text,
       CAST(len(toks[i * 48 + 1 : i * 48 + 64]) AS BIGINT) AS n_tokens
FROM e
"""


@q("chunk_documents", _CHUNK_SQL)
def chunk_documents_q(spark, sf_dir):
    """Overlapping token-window chunking (64-token chunks, 16-token
    overlap) - the pre-tokenization split for long-context training
    data / retrieval corpora, dual to pack_sequences' concat-and-pack.
    Zero-shuffle explode+slice projection."""
    from ..operators.textstats import chunk_documents

    return chunk_documents(
        read_table(spark, sf_dir, "documents"), chunk_tokens=64, overlap=16
    ).select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "chunk_text",
        "n_tokens",
    )


_GROUPED_SPLIT_SQL = """
WITH b AS (
  SELECT doc_id, md5(text) AS content_group,
         CAST(('0x' || substring(md5(md5(text)), 1, 8))
              AS BIGINT) AS bucket
  FROM documents
)
SELECT doc_id, content_group,
       CASE WHEN bucket < 214748364 THEN 'test'
            WHEN bucket < 429496729 THEN 'val'
            ELSE 'train' END AS split
FROM b
"""


@q("leakage_safe_split", _GROUPED_SPLIT_SQL)
def leakage_safe_split_q(spark, sf_dir):
    """Train/val/test assignment keyed on the exact-content digest
    instead of the row id: duplicate documents can never straddle the
    train/test boundary (the leakage a per-id split silently allows).
    Same md5-band determinism as split_assign; still a zero-shuffle
    projection because the group key is row-local. For near-dup-level
    safety the same operator takes a connected-component representative
    as the group column (pytest-pinned; the CC key is not
    SQL-expressible, the digest key is)."""
    from ..operators.textstats import grouped_split_assign

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("content_group")
    )
    return grouped_split_assign(docs, group_col="content_group").select(
        "doc_id", "content_group", "split"
    )


_SHARD_MANIFEST_SQL = """
WITH b AS (
  SELECT doc_id, n_chars,
         CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 64 AS INT) AS band
  FROM documents
), r AS (
  SELECT n_chars, band,
         ROW_NUMBER() OVER (
           PARTITION BY band ORDER BY n_chars DESC, doc_id
         ) AS rn
  FROM b
)
SELECT CAST((rn - 1 + band) % 16 AS INT) AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM r GROUP BY 1
"""


@q("shard_manifest", _SHARD_MANIFEST_SQL)
def shard_manifest_q(spark, sf_dir):
    """Size-balanced training-shard layout (operators/textstats
    .shard_assign): md5-band -> per-band size-desc rank -> staggered
    round-robin deal over 16 shards, reported as the per-shard
    manifest (doc count + char mass) a data loader reads before an
    epoch. Deterministic (no rand), one bounded-band sort shuffle;
    the oracle re-derives the full assignment in SQL, so the layout
    itself - not just the counts - is what's being value-checked."""
    from ..operators.textstats import shard_assign

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    return (
        shard_assign(docs, n_shards=16, size_col="n_chars")
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


_TEMP_MIX_SQL = f"""
WITH sized AS (
  SELECT doc_id, source,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
), dim AS (
  SELECT source, CAST(sum(n_tokens) AS DOUBLE) AS toks
  FROM sized GROUP BY source
), rated AS (
  SELECT source,
         least(CAST(1.0 AS DOUBLE),
               CAST(12000.0 AS DOUBLE)
                 * (pow(toks, 0.5) / sum(pow(toks, 0.5)) OVER ())
                 / toks)
           AS rate
  FROM dim
)
SELECT s.doc_id, s.source, s.n_tokens, round(r.rate, 6) AS keep_rate
FROM sized s JOIN rated r USING (source)
WHERE r.rate >= 1.0
   OR substring(md5(CAST(s.doc_id AS VARCHAR)), 1, 8)
      < lpad(lower(to_hex(CAST(floor(r.rate * 4294967296.0) AS BIGINT))),
             8, '0')
"""


@q("temperature_mixture", _TEMP_MIX_SQL)
def temperature_mixture_q(spark, sf_dir):
    """Temperature-rebalanced corpus sample (alpha = 0.5, the XLM-R
    default neighborhood): stratum weights derive from the corpus's own
    token shares, upweighting small sources; keep-set by the same
    auditable md5 threshold as mixture_sample. One tiny dim aggregate +
    a pure per-row predicate - the documents table never shuffles."""
    from ..operators.textstats import temperature_mixture_sample

    docs = read_table(spark, sf_dir, "documents")
    return temperature_mixture_sample(
        docs, alpha=0.5, budget_tokens=12000
    )


def _pii_redact_sql() -> str:
    """Oracle for pii_redact: the same planted-PII augmentation and
    PII_PATTERNS chain as global regexp_replace (both engines run
    RE2-compatible syntax here)."""
    from ..operators.textstats import PII_PATTERNS

    planted = (
        "text || ' contact u' || CAST(doc_id AS VARCHAR)"
        " || '@example.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR)"
        " || '.1 tel 555-123-' || CAST(1000 + doc_id % 9000 AS VARCHAR)"
    )
    expr = "t2"
    for _name, pat, repl in PII_PATTERNS:
        p = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{p}', '{repl}', 'g')"
    return f"""
WITH aug AS (SELECT doc_id, {planted} AS t2 FROM documents)
SELECT doc_id, {expr} AS text_redacted,
       CAST(len(t2) - len({expr}) AS BIGINT) AS n_chars_removed
FROM aug
WHERE {expr} != t2
"""


@q("pii_redact", _pii_redact_sql())
def pii_redact_q(spark, sf_dir):
    """The remediation half of the PII pass, value-checked end to end:
    the synthetic corpus carries no natural PII, so the query PLANTS a
    deterministic email + dotted-quad + phone per document (the same
    planted-structure discipline as the media near-dup queries), then
    redacts with the chained PII_PATTERNS regexp_replace (one JVM
    projection, zero shuffle) and emits the redacted text plus the
    removed-char count. Every document must change - full recall is
    part of the oracle, and the redacted TEXT is value-compared, not
    just counted. Emails redact before IPs so an address containing a
    dotted quad collapses to one [EMAIL]."""
    from ..operators.textstats import redact_pii

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1 tel 555-123-"),
            (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        ).alias("t2"),
    )
    red = redact_pii(docs, text_col="t2")
    return red.where(F.col("text_redacted") != F.col("t2")).select(
        "doc_id",
        "text_redacted",
        (F.length("t2") - F.length("text_redacted"))
        .cast("long")
        .alias("n_chars_removed"),
    )


def _logreg_weights(dim: int = 64) -> "list[float]":
    """Closed-form deterministic demo weights for the serving-path
    oracle: both engines inline the SAME literal list."""
    return [((7 * i) % 13 - 6) / 10.0 for i in range(dim)]


def _logreg_score_cte(
    dim: int = 64, bias: float = -0.1, carry: str = ""
) -> str:
    """The shared t/v/n/emb/s CTE chain of every serving-path oracle
    (_logreg_score_sql, _calibration_sql, _pr_curve_sql): ONE literal
    model, one definition - the three fragments cannot drift apart.
    `carry` names extra document columns (e.g. "lang") threaded
    through to the final `s` CTE."""
    c = f", {carry}" if carry else ""
    toks_h = f"list_transform({_TOKS}, t -> {_h60_sql('t')} % {dim})"
    raw = (
        f"list_transform(range(0, {dim}), i -> "
        f"CAST(len(list_filter(hs, h -> h = i)) AS DOUBLE))"
    )
    wlit = "[" + ", ".join(repr(v) for v in _logreg_weights(dim)) + "]"
    return f"""
WITH t AS (SELECT doc_id{c}, {toks_h} AS hs FROM documents),
v AS (SELECT doc_id{c}, {raw} AS raw FROM t),
n AS (SELECT doc_id{c}, raw,
             sqrt(list_sum(list_transform(raw, x -> x * x))) AS nrm
      FROM v),
emb AS (SELECT doc_id{c},
               list_transform(raw, x -> round(x / nrm, 6)) AS e
        FROM n),
s AS (SELECT doc_id{c},
             round(1.0 / (1.0 + exp(-(
               list_sum(list_transform(range(1, {dim + 1}),
                                       i -> e[i] * ({wlit})[i]))
               + ({bias!r})))), 6) AS score
      FROM emb)"""


def _logreg_score_sql(dim: int = 64, bias: float = -0.1) -> str:
    """Mirror of hashing_trick_embed -> logreg_score: the 6dp-rounded
    embedding feeds a literal-weight dot product and a sigmoid."""
    return f"""{_logreg_score_cte(dim, bias)}
SELECT doc_id, score, CAST(score >= 0.5 AS INT) AS pred FROM s
"""


@q("quality_logreg_score", _logreg_score_sql())
def quality_logreg_score_q(spark, sf_dir):
    """The classifier SERVING path - the pass that must scale to
    100 TB: hashing-trick features (64-dim, h60 buckets, 6dp-rounded
    L2 normalization) scored by a literal-weight logistic model
    (fastText-style quality/langid filters are exactly this shape).
    Zero shuffle beyond the feature build's doc-keyed aggregate; the
    dot product + sigmoid is a whole-stage-codegen projection with the
    model broadcast as a literal. Scores value-check against the
    DuckDB mirror of the same literal weights."""
    from ..operators.textstats import logreg_score

    return logreg_score(
        _hash_feats(spark, sf_dir), _logreg_weights(64), -0.1
    )


def _logreg_train_sql(
    n_iters: int = 10,
    lr: float = 0.5,
    l2: float = 1e-4,
    dim: int = 64,
) -> str:
    """Unrolled full-batch GD oracle (the _kmeans_lloyd_sql /
    _pagerank_sql discipline applied to the classifier trainer):
    zero-init weights, then per iteration one residual CTE
    (sigmoid margin minus label), one per-dimension gradient
    aggregate, and one elementwise weight update - exactly
    logreg_train's numpy loop, operand order preserved
    (lr * (g/n + l2*w); (lr * sum_r) / n) so both engines walk the
    same float path. The features are the 6dp-ROUNDED hashed
    embeddings (identical across engines - text_hash_embeddings pins
    that), so the only divergence is summation order and libm exp,
    ~1e-15 against the 1e-9 output rounding."""
    toks_h = f"list_transform({_TOKS}, t -> {_h60_sql('t')} % {dim})"
    raw = (
        f"list_transform(range(0, {dim}), i -> "
        f"CAST(len(list_filter(hs, h -> h = i)) AS DOUBLE))"
    )
    steps = []
    for t in range(1, n_iters + 1):
        steps.append(f""",
p{t} AS MATERIALIZED (
  SELECT f.doc_id, f.x,
         1.0 / (1.0 + exp(-(list_dot_product(f.x, w.w) + w.b))) - f.y
           AS r
  FROM feats f, w{t - 1} w
),
g{t} AS MATERIALIZED (
  SELECT pos, sum(r * xv) AS g FROM (
    SELECT r, unnest(x) AS xv, generate_subscripts(x, 1) - 1 AS pos
    FROM p{t}
  ) GROUP BY pos
),
u{t} AS MATERIALIZED (
  SELECT wo.pos,
         wo.wv - {lr} * (coalesce(g.g, 0.0) / nn.n + {l2} * wo.wv)
           AS nv
  FROM (SELECT unnest(w) AS wv, generate_subscripts(w, 1) - 1 AS pos
        FROM w{t - 1}) wo
  LEFT JOIN g{t} g USING (pos) CROSS JOIN nn
),
w{t} AS MATERIALIZED (
  SELECT (SELECT list(nv ORDER BY pos) FROM u{t}) AS w,
         (SELECT b FROM w{t - 1})
           - {lr} * (SELECT sum(r) FROM p{t}) / (SELECT n FROM nn)
           AS b
)""")
    return f"""
WITH t AS (
  SELECT doc_id, lang, {toks_h} AS hs
  FROM documents WHERE doc_id % 5 = 0
),
v AS (SELECT doc_id, lang, {raw} AS raw FROM t),
nz AS (SELECT doc_id, lang, raw,
              sqrt(list_sum(list_transform(raw, x -> x * x))) AS nrm
       FROM v),
feats AS MATERIALIZED (
  -- MATERIALIZED: the iteration chain references feats once per
  -- unrolled step; inlined CTE re-execution would re-scan documents
  -- n_iters times (and exhaust file descriptors under a busy host)
  SELECT doc_id,
         list_transform(raw, x -> round(x / nrm, 6)) AS x,
         CAST(CAST(lang = 'en' AS INT) AS DOUBLE) AS y
  FROM nz WHERE nrm > 0
),
nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM feats),
w0 AS MATERIALIZED (
  SELECT list_transform(range(0, {dim}), i -> 0.0) AS w, 0.0 AS b){"".join(steps)}
SELECT CAST(-1 AS INT) AS pos, round(b, 9) AS weight FROM w{n_iters}
UNION ALL
SELECT CAST(pos AS INT) AS pos, round(wv, 9) AS weight FROM (
  SELECT unnest(w) AS wv, generate_subscripts(w, 1) - 1 AS pos
  FROM w{n_iters}
)
ORDER BY pos
"""


@q("langid_logreg_train", _logreg_train_sql())
def langid_logreg_train_q(spark, sf_dir):
    """TRAIN the classifier: full-batch gradient descent for a
    lang=='en' logistic classifier over the corpus-cached 64-dim
    hashing-trick features, fit on the doc_id % 5 == 0 sample (at
    100 TB one trains on a sample and serves corpus-wide - the
    serving twin above is the zero-shuffle pass). The sample fits the
    driver, so logreg_train's collected-numpy path runs; the
    distributed aggregate loop it falls back to above
    driver_row_limit is pinned to agree in tests/test_classifier.py.
    Fully oracle-checked since r10: the fixed iteration count unrolls
    into residual/gradient/update CTEs (_logreg_train_sql) over the
    same 6dp-rounded feature frame, so the fitted weights themselves
    value-check at 9dp; the GD loop additionally stays pinned against
    a numpy reference, and the fitted model beats the majority
    baseline on held-out docs."""
    from ..operators.textstats import logreg_train

    docs = read_table(spark, sf_dir, "documents")
    train = _hash_feats(spark, sf_dir).join(
        docs.select(
            "doc_id", (F.col("lang") == "en").cast("int").alias("y")
        ),
        "doc_id",
    ).where(F.col("doc_id") % 5 == 0)
    w, b = logreg_train(train, dim=64, label_col="y", n_iters=10)
    rows = [(-1, round(b, 9))] + [
        (i, round(v, 9)) for i, v in enumerate(w)
    ]
    return spark.createDataFrame(
        rows, "pos int, weight double"
    ).orderBy("pos")


# the quality_score(text) column expression as SQL - the same fragment
# _STATS_SQL inlines, factored for reuse by the adaptive-cutoff query
_QSCORE_SQL = f"""round(least(len({_TOKS}) / 50.0, 1.0)
  * (0.5 + least((CAST(len(list_filter({_TOKS},
        t -> list_contains({_sql_marker_list(_ALL_MARKERS)}, t))) AS DOUBLE)
      / greatest(len({_TOKS}), 1)) * 5.0, 1.0) * 0.5)
  * (1.0 - least((CAST(length(regexp_replace(text, '[\\w\\s]', '', 'g')) AS DOUBLE)
      / greatest(length(text), 1)) * 2.0, 1.0)), 6)"""


_ADAPTIVE_CUTOFF_SQL = f"""
WITH s AS (
  SELECT doc_id, source, {_QSCORE_SQL} AS score FROM documents
),
c AS (
  SELECT source, round(quantile_cont(score, 0.25), 6) AS cutoff
  FROM s GROUP BY source
)
SELECT s.doc_id, s.source, s.score, c.cutoff,
       CAST(s.score >= c.cutoff AS INT) AS keep
FROM s JOIN c ON s.source = c.source
"""


@q("adaptive_quality_cutoff", _ADAPTIVE_CUTOFF_SQL)
def adaptive_quality_cutoff_q(spark, sf_dir):
    """PER-SOURCE adaptive quality filtering (the FineWeb lesson: one
    global threshold over heterogeneous sources throws away the good
    tail of strict domains and keeps the bad head of lax ones): each
    source's own p25 quality score becomes its cutoff, and docs are
    flagged against THEIR source's bar. Exact interpolated percentile
    (percentile == quantile_cont, the percentile_price_stats
    precedent, both rounded to 6dp before the comparison so the
    boundary verdict is engine-identical). Scale shape: the cutoff
    frame is one row per source and BROADCASTS back onto the zero-
    shuffle score projection - the corpus is scanned once, scored
    in-place, and never shuffled."""
    from ..operators.textstats import quality_score

    docs = read_table(spark, sf_dir, "documents")
    s = docs.select(
        "doc_id",
        "source",
        F.round(quality_score(F.col("text")), 6).alias("score"),
    )
    cut = s.groupBy("source").agg(
        F.round(F.percentile(F.col("score"), F.lit(0.25)), 6).alias(
            "cutoff"
        )
    )
    return s.join(F.broadcast(cut), "source").select(
        "doc_id",
        "source",
        "score",
        "cutoff",
        (F.col("score") >= F.col("cutoff")).cast("int").alias("keep"),
    )


_SNAPSHOT_DIFF_SQL = """
WITH v1 AS (
  SELECT doc_id, md5(text) AS digest FROM documents
),
v2 AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [cleaned]'
                  ELSE text END) AS digest
  FROM documents WHERE doc_id % 10 != 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, md5(text) AS digest
  FROM documents WHERE doc_id % 13 = 0
)
SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
       CASE WHEN v1.doc_id IS NULL THEN 'added'
            WHEN v2.doc_id IS NULL THEN 'removed'
            ELSE 'changed' END AS change_type,
       v1.digest AS old_digest, v2.digest AS new_digest
FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
WHERE v1.doc_id IS NULL OR v2.doc_id IS NULL
   OR v1.digest != v2.digest
"""


@q("snapshot_diff", _SNAPSHOT_DIFF_SQL)
def snapshot_diff_q(spark, sf_dir):
    """Corpus-version diff audit on the EXISTING CDC operator
    (operators/profiling.snapshot_diff - one co-partitioned full
    outer join, null-safe compare, unchanged keys dropped): v2 is a
    deterministic 'next release' (doc_id % 10 rows RTBF-deleted, % 7
    texts touched by a cleaning pass, % 13 docs re-ingested under new
    ids) compared on the 16-byte content DIGEST, so payload bytes
    never shuffle - the 'what did this run actually change' delta a
    downstream incremental consumer applies."""
    from ..operators.profiling import snapshot_diff

    docs = read_table(spark, sf_dir, "documents")
    v1 = docs.select("doc_id", F.md5("text").alias("digest"))
    v2 = (
        docs.where(F.col("doc_id") % 10 != 0)
        .select(
            "doc_id",
            F.md5(
                F.when(
                    F.col("doc_id") % 7 == 0,
                    F.concat(F.col("text"), F.lit(" [cleaned]")),
                ).otherwise(F.col("text"))
            ).alias("digest"),
        )
        .unionByName(
            docs.where(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.md5("text").alias("digest"),
            )
        )
    )
    return snapshot_diff(
        v1, v2, key_cols=["doc_id"], compare_cols=["digest"]
    )


_SOURCE_DATASHEET_SQL = f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(list_filter({_TOKS}, w -> len(w) > 0))) AS BIGINT)
         AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(avg({_QSCORE_SQL}), 6) AS mean_quality,
       round(avg(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END), 6)
         AS en_share,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts
FROM documents
GROUP BY source
"""


@q("source_datasheet", _SOURCE_DATASHEET_SQL)
def source_datasheet_q(spark, sf_dir):
    """Per-source dataset datasheet (Gebru et al. 2021's documentation
    artifact, the report card a curation run publishes next to its
    shards): doc/token/char mass, mean heuristic quality, language
    share, and distinct-content count (its gap vs n_docs is the
    exact-dup mass) - one map-side-combined aggregate over a
    zero-shuffle score projection, one row per source."""
    from ..operators.textstats import quality_score, token_count

    docs = read_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(token_count(F.col("text")))
        .cast("long")
        .alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.round(
            F.avg(F.round(quality_score(F.col("text")), 6)), 6
        ).alias("mean_quality"),
        F.round(
            F.avg((F.col("lang") == "en").cast("double")), 6
        ).alias("en_share"),
        F.countDistinct(F.md5("text")).alias("n_distinct_texts"),
    )


_MIX_PLAN_SQL = f"""
WITH sized AS (
  SELECT source, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents
),
dim AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS DOUBLE) AS toks
  FROM sized GROUP BY source
)
SELECT source, n_docs, CAST(toks AS BIGINT) AS n_tokens,
       round(toks / sum(toks) OVER (), 6) AS nat_share,
       round(pow(toks, 0.5) / sum(pow(toks, 0.5)) OVER (), 6)
         AS temp_share,
       round((pow(toks, 0.5) / sum(pow(toks, 0.5)) OVER ())
             * 12000.0 / nullif(toks, 0), 6) AS sample_rate,
       CAST(ceil((pow(toks, 0.5) / sum(pow(toks, 0.5)) OVER ())
                 * 12000.0 / nullif(toks, 0)) AS BIGINT) AS epochs
FROM dim
"""


@q("mixture_plan", _MIX_PLAN_SQL)
def mixture_plan_q(spark, sf_dir):
    """The mixture PLAN a training loader actually consumes (the rate
    table behind temperature_mixture's row sample): per source, its
    token mass, natural share, temperature-rebalanced target share
    (alpha = 0.5), the sampling rate that hits a 12k-token budget at
    that share, and the epoch count (ceil of the rate - a rate above
    1.0 means the source is OVERSAMPLED, the regime row-level
    keep-sampling cannot express). One map-side-combined aggregate
    over a zero-shuffle token-count projection; every window below it
    runs on the source-cardinality dim frame (a handful of rows), the
    corpus is scanned exactly once."""
    from ..operators.textstats import token_count

    docs = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy()
    dim = (
        docs.select(
            "source", token_count(F.col("text")).alias("n_tokens")
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("double").alias("toks"),
        )
    )
    share = F.pow(F.col("toks"), 0.5) / F.sum(
        F.pow(F.col("toks"), 0.5)
    ).over(w)
    rate = share * F.lit(12000.0) / F.nullif(F.col("toks"), F.lit(0.0))
    return dim.select(
        "source",
        "n_docs",
        F.col("toks").cast("long").alias("n_tokens"),
        F.round(F.col("toks") / F.sum("toks").over(w), 6).alias(
            "nat_share"
        ),
        F.round(share, 6).alias("temp_share"),
        F.round(rate, 6).alias("sample_rate"),
        F.ceil(rate).cast("long").alias("epochs"),
    )


_LEN_CURRICULUM_SQL = f"""
WITH sized AS (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents
),
cuts AS (
  SELECT round(quantile_cont(n_tokens, 0.25), 6) AS c1,
         round(quantile_cont(n_tokens, 0.50), 6) AS c2,
         round(quantile_cont(n_tokens, 0.75), 6) AS c3
  FROM sized
),
b AS (
  SELECT doc_id, n_tokens,
         CAST(n_tokens > c1 AS INT) + CAST(n_tokens > c2 AS INT)
           + CAST(n_tokens > c3 AS INT) AS bucket
  FROM sized CROSS JOIN cuts
),
sh AS (
  SELECT bucket,
         bucket * 4 + ({_h60_sql("CAST(doc_id AS VARCHAR)")} % 4)
           AS shard_id,
         n_tokens
  FROM b
)
SELECT shard_id, bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(max(n_tokens) AS BIGINT) AS max_len,
       CAST(max(n_tokens) * count(*) - sum(n_tokens) AS BIGINT)
         AS padding_waste,
       round(1.0 - CAST(sum(n_tokens) AS DOUBLE)
                   / (max(n_tokens) * count(*)), 6) AS waste_ratio
FROM sh GROUP BY shard_id, bucket
"""


@q("length_curriculum_shards", _LEN_CURRICULUM_SQL)
def length_curriculum_shards_q(spark, sf_dir):
    """Length-grouped shard planning (the batching trick behind
    dynamic-padding loaders, done corpus-side): docs land in a length
    QUARTILE (exact interpolated percentiles, the
    adaptive_quality_cutoff precedent, rounded to 6dp before the
    boundary compare) and spread across 4 shards within it by the h60
    hash family, so a loader reading any one shard sees near-uniform
    lengths; the report prices that choice - per shard, the token
    mass, the pad-to-max length, and the padding waste a fixed-length
    batcher would burn. Scale shape: the 1-row cutoff frame rides a
    broadcast one-row cross join back onto the zero-shuffle token
    projection (the bm25 stats shape - never a global sort or ntile
    window over the corpus), bucketing and shard assignment are
    per-row expressions, and the only shuffle is the map-side-combined
    16-group aggregate."""
    from ..operators.dedup import h60
    from ..operators.textstats import token_count

    docs = read_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    cuts = sized.agg(
        *[
            F.round(
                F.percentile(F.col("n_tokens"), F.lit(p)), 6
            ).alias(c)
            for p, c in ((0.25, "c1"), (0.50, "c2"), (0.75, "c3"))
        ]
    )
    b = sized.crossJoin(F.broadcast(cuts)).withColumn(
        "bucket",
        (F.col("n_tokens") > F.col("c1")).cast("int")
        + (F.col("n_tokens") > F.col("c2")).cast("int")
        + (F.col("n_tokens") > F.col("c3")).cast("int"),
    )
    sh = b.select(
        "bucket",
        (
            F.col("bucket") * 4
            + h60(F.col("doc_id").cast("string")) % 4
        ).alias("shard_id"),
        "n_tokens",
    )
    return sh.groupBy("shard_id", "bucket").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.max("n_tokens").cast("long").alias("max_len"),
        (F.max("n_tokens") * F.count("*") - F.sum("n_tokens"))
        .cast("long")
        .alias("padding_waste"),
        F.round(
            F.lit(1.0)
            - F.sum("n_tokens").cast("double")
            / (F.max("n_tokens") * F.count("*")),
            6,
        ).alias("waste_ratio"),
    )


_BOTTOMK_SQL = f"""
SELECT doc_id, source, lang,
       {_h60_sql("CAST(doc_id AS VARCHAR)")} AS sample_key
FROM documents
ORDER BY sample_key, doc_id
LIMIT 50
"""


@q("bottomk_sample", _BOTTOMK_SQL)
def bottomk_sample_q(spark, sf_dir):
    """Deterministic bottom-k uniform sample: the 50 docs with the
    smallest h60(doc_id) - the auditable replacement for rand()
    sampling, and the MERGEABLE one: bottom-k of a union is the
    bottom-k of the per-shard bottom-k's, so a 100-TB sample
    maintains incrementally (new arrivals compete on their hash, the
    sample never has to be redrawn) and every engine draws the SAME
    sample. Plan shape: TakeOrderedAndProject - per-partition partial
    top-k, no global sort, nothing but 50 rows ever moves."""
    from ..operators.dedup import h60

    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "source",
            "lang",
            h60(F.col("doc_id").cast("string")).alias("sample_key"),
        )
        .orderBy("sample_key", "doc_id")
        .limit(50)
    )


_ES_SAMPLE_SQL = f"""
WITH sized AS (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents
)
SELECT doc_id, n_tokens,
       round(ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                      AS BIGINT) + 0.5) / 4294967296.0)
             / n_tokens, 6) AS es_key
FROM sized
WHERE n_tokens > 0
ORDER BY es_key DESC, doc_id
LIMIT 50
"""


@q("es_weighted_sample", _ES_SAMPLE_SQL)
def es_weighted_sample_q(spark, sf_dir):
    """Weighted sampling without replacement (Efraimidis-Spirtakis
    2006, the A-ES reservoir algorithm): each doc draws key
    ln(u)/weight with weight = its token count and u the
    md5-deterministic uniform (the dsir_resample/mixture_sample
    discipline), and the top-50 keys are EXACTLY a weight-
    proportional sample without replacement - token-heavy docs are
    proportionally likelier, yet the draw is reproducible across
    engines, runs and repartitioning, and mergeable shard-by-shard
    (max-k of per-shard max-k's, the same incremental story as
    bottomk_sample). Plan: zero-shuffle key projection +
    TakeOrderedAndProject."""
    from ..operators.textstats import token_count

    docs = read_table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    sized = docs.select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    ).where(F.col("n_tokens") > 0)
    return (
        sized.select(
            "doc_id",
            "n_tokens",
            F.round(F.log(u) / F.col("n_tokens"), 6).alias("es_key"),
        )
        .orderBy(F.desc("es_key"), "doc_id")
        .limit(50)
    )


def _jsonl_path(spark, sf_dir):
    """One JSONL shard write per (applicationId, corpus) under the
    app's scratch root - the _wds_path discipline (no cross-session
    sharing, so no rename/lock choreography beyond the writer's own
    atomic renames)."""
    from ..sources.jsonl import write_jsonl

    def build():
        key = corpus_key(spark, sf_dir, "documents")
        path = scratch_dir(spark, f"jsonl{key[1:]}")
        docs = read_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text", (F.col("doc_id") % 8).alias("shard")
        )
        write_jsonl(
            docs, path, n_shards=8, key_col="doc_id", shard_col="shard"
        )
        return path

    return artifact(spark, sf_dir, "documents", "jsonl", build)


_JSONL_SQL = """
SELECT doc_id, lang, doc_id % 8 AS shard_id, md5(text) AS payload_md5
FROM documents
"""


@q("jsonl_roundtrip", _JSONL_SQL)
def jsonl_roundtrip_q(spark, sf_dir):
    """JSONL shard sink + source round trip (the format every public
    LLM corpus actually ships as): documents serialize to 8
    reproducible .jsonl shards (to_json records in key order, atomic
    renames) and read back through Spark's native json source in
    PERMISSIVE mode with a quarantine column. The oracle re-derives
    every doc's md5 from the parquet original, so a single byte lost
    or mangled anywhere in serialize -> shard -> parse fails the value
    hash; quarantine rows would surface as extra/null rows (corrupt
    handling itself is pinned in tests/test_jsonl.py). Scale shape:
    hash-sharded write (no global sort), partition-parallel schema'd
    read, per-row projection - no shuffle after the write's own."""
    path = _jsonl_path(spark, sf_dir)
    from ..sources.jsonl import read_jsonl

    back = read_jsonl(
        spark, path, "doc_id long, lang string, text string"
    )
    return back.select(
        "doc_id",
        "lang",
        (F.col("doc_id") % 8).alias("shard_id"),
        F.md5("text").alias("payload_md5"),
    )


def _orc_path(spark, sf_dir):
    """One partitioned ORC write per (applicationId, corpus) - the
    _jsonl_path discipline. Layout: partitionBy(bucket = doc_id % 8),
    Spark's native ORC writer, so the read side exercises directory
    partition pruning (the ORC analogue of the parquet sink's pruned
    incremental read)."""

    def build():
        key = corpus_key(spark, sf_dir, "documents")
        path = scratch_dir(spark, f"orc{key[1:]}")
        docs = read_table(spark, sf_dir, "documents").withColumn(
            "bucket", F.col("doc_id") % 8
        )
        docs.write.mode("overwrite").partitionBy("bucket").orc(path)
        return path

    return artifact(spark, sf_dir, "documents", "orc", build)


_ORC_SQL = """
SELECT doc_id, source, lang, doc_id % 8 AS bucket,
       md5(text) AS payload_md5,
       CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes
FROM documents
WHERE doc_id % 8 IN (2, 5)
"""


@q("orc_roundtrip", _ORC_SQL)
def orc_roundtrip_q(spark, sf_dir):
    """ORC sink + source round trip through Spark's built-in columnar
    twin of parquet (S-coverage breadth: a training-data engine meets
    ORC wherever Hive-era lakes feed it): documents write once per
    corpus as a bucket-partitioned ORC dataset (bucket = doc_id % 8,
    pure column expr, no global sort) and read back with a
    partition-pruned filter (bucket IN (2,5) - 2 of 8 directories;
    tests/test_plans.py pins the PartitionFilters line in the scan -
    inputFiles() reports the pre-pruning listing, so the plan string
    is the checkable evidence). The oracle re-derives
    every surviving doc's md5 and UTF-8 byte length from the parquet
    original, so a byte lost anywhere in write -> ORC -> read -> prune
    fails the value hash, and an unpruned/over-pruned read fails the
    row count."""
    path = _orc_path(spark, sf_dir)
    back = spark.read.orc(path)
    return back.where(F.col("bucket").isin(2, 5)).select(
        "doc_id",
        "source",
        "lang",
        F.col("bucket").cast("long").alias("bucket"),
        F.md5("text").alias("payload_md5"),
        F.octet_length("text").cast("long").alias("payload_bytes"),
    )


# Planted crawl URL per doc (the pii_redact discipline: the synthetic
# corpus has no natural URLs, so the query plants a deterministic one
# per doc exercising every canonicalization rule - mixed-case scheme/
# host, default port on doc_id%7, utm tracking params, a real id
# param, a fragment) and the oracle re-derives the canonical RESULT
# independently from the same planted structure.
_RAW_URL_SQL = (
    "'HTTPS://WWW.' || upper(source) || '.COM'"
    " || (CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END)"
    " || '/d/' || doc_id"
    " || '?utm_source=feed&id=' || doc_id"
    " || (CASE WHEN doc_id % 3 = 0 THEN '&utm_campaign=x' ELSE '' END)"
    " || '#sec'"
)

_URL_CANON_SQL = f"""
SELECT doc_id,
       {_RAW_URL_SQL} AS raw_url,
       'https://' || source || '.com/d/' || doc_id
         || '?id=' || doc_id AS url_canon,
       source || '.com' AS domain
FROM documents
"""


def _planted_url_frame(docs):
    from ..operators.urls import canonicalize_url, registered_domain

    sid = F.col("doc_id").cast("string")
    raw = F.concat(
        F.lit("HTTPS://WWW."),
        F.upper("source"),
        F.lit(".COM"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(":443")).otherwise(
            F.lit("")
        ),
        F.lit("/d/"),
        sid,
        F.lit("?utm_source=feed&id="),
        sid,
        F.when(
            F.col("doc_id") % 3 == 0, F.lit("&utm_campaign=x")
        ).otherwise(F.lit("")),
        F.lit("#sec"),
    )
    canon = canonicalize_url(raw)
    return docs.select(
        "doc_id",
        raw.alias("raw_url"),
        canon.alias("url_canon"),
        registered_domain(canon).alias("domain"),
    )


@q("url_canonical", _URL_CANON_SQL)
def url_canonical_q(spark, sf_dir):
    """URL canonicalization (the first stage of every web-corpus
    pipeline - the only one whose cost is independent of document
    bytes): lowercase scheme/host, strip the scheme's default port,
    strip leading www., drop the fragment, drop utm_* tracking params,
    sort the survivors, plus registered-domain extraction. Pure JVM
    regexp/array projection, zero shuffle; the planted URLs exercise
    every rule and the oracle derives the expected canonical form
    INDEPENDENTLY from the planted structure, so a wrong rule anywhere
    fails the value hash."""
    return _planted_url_frame(read_table(spark, sf_dir, "documents"))


_DOMAIN_BLOCK_SQL = """
SELECT source || '.com' AS domain,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(source IN ('src2', 'src3') AS INT) AS blocked
FROM documents GROUP BY source
"""


@q("domain_blocklist_stats", _DOMAIN_BLOCK_SQL)
def domain_blocklist_stats_q(spark, sf_dir):
    """Domain-level crawl governance: per registered domain, the doc
    mass and whether the domain sits on the blocklist (opt-outs, spam
    domains - RefinedWeb removed whole domains before touching any
    content). The blocklist is a literal broadcast set against the
    canonical domain; at 100 TB the aggregate is
    domain-cardinality-sized and the corpus never shuffles raw rows
    (the keep-side filter is the same expression as a pushdown-able
    anti-join)."""
    docs = read_table(spark, sf_dir, "documents")
    urls = _planted_url_frame(docs)
    blocked = F.col("domain").isin("src2.com", "src3.com")
    return urls.groupBy("domain").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.max(blocked.cast("int")).alias("blocked"),
    )


def _calibration_sql(dim: int = 64, bias: float = -0.1) -> str:
    """The serving-path score pipeline (the SHARED _logreg_score_cte
    fragment, lang carried) rolled up to reliability bins."""
    return f"""{_logreg_score_cte(dim, bias, carry="lang")}
SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(score), 6) AS mean_score,
       round(avg(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END), 6)
         AS frac_true,
       round(abs(avg(score)
                 - avg(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END)), 6)
         AS calibration_gap
FROM (SELECT *, least(CAST(floor(score * 10) AS INT), 9) AS bin FROM s)
GROUP BY bin
"""


@q("score_calibration_bins", _calibration_sql())
def score_calibration_bins_q(spark, sf_dir):
    """Classifier reliability report (the ECE table): the serving
    path's scores land in 10 confidence bins and each bin compares
    its mean score against the empirical positive rate (lang == 'en')
    - the calibration audit a curation pipeline runs before trusting
    a quality filter's threshold semantics (a miscalibrated filter at
    0.5 silently shifts the kept-mass). Reuses the cached hashed
    feature frame and the same literal-weight model as
    quality_logreg_score; one 10-group map-side-combined aggregate on
    top of the zero-shuffle scoring projection."""
    from ..operators.textstats import logreg_score

    docs = read_table(spark, sf_dir, "documents")
    scores = logreg_score(
        _hash_feats(spark, sf_dir), _logreg_weights(64), -0.1
    )
    labeled = scores.join(
        docs.select("doc_id", "lang"), "doc_id"
    ).select(
        "score",
        (F.col("lang") == "en").cast("double").alias("y"),
        F.least(
            F.floor(F.col("score") * 10).cast("int"), F.lit(9)
        ).alias("bin"),
    )
    return labeled.groupBy("bin").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("score"), 6).alias("mean_score"),
        F.round(F.avg("y"), 6).alias("frac_true"),
        F.round(F.abs(F.avg("score") - F.avg("y")), 6).alias(
            "calibration_gap"
        ),
    )


def _ensemble_sql() -> str:
    """Three cheap quality signals (heuristic score, token entropy,
    token count) -> per-signal decile via 9 quantile_cont cutoffs ->
    mean decile, all re-derived in SQL."""

    def h_tk() -> str:
        arr = f"list_filter({_TOKS}, w -> len(w) > 0)"
        body = (
            f"coalesce(ln(len({arr}))"
            f" - list_sum(list_transform(list_sort(list_distinct({arr})),"
            f" u -> CAST(len(list_filter({arr}, x -> x = u)) AS DOUBLE)"
            f" * ln(len(list_filter({arr}, x -> x = u)))))"
            f" / len({arr}), 0.0)"
        )
        # same ln(0) guard as _entropy_sql: a token-less doc scores
        # entropy 0.0 instead of crashing the oracle, so no doc ever
        # vanishes from the ensemble report
        return f"CASE WHEN len({arr}) = 0 THEN 0.0 ELSE {body} END"

    qs = "[" + ", ".join(str(i / 10.0) for i in range(1, 10)) + "]"
    return f"""
WITH s AS (
  SELECT doc_id,
         {_QSCORE_SQL} AS s1,
         round({h_tk()}, 6) AS s2,
         CAST(len(list_filter({_TOKS}, w -> len(w) > 0)) AS DOUBLE)
           AS s3
  FROM documents
),
cuts AS (
  SELECT list_transform(quantile_cont(s1, {qs}), x -> round(x, 6)) AS c1,
         list_transform(quantile_cont(s2, {qs}), x -> round(x, 6)) AS c2,
         list_transform(quantile_cont(s3, {qs}), x -> round(x, 6)) AS c3
  FROM s
)
SELECT doc_id,
       CAST(len(list_filter(c1, c -> s1 > c)) AS INT) AS d1,
       CAST(len(list_filter(c2, c -> s2 > c)) AS INT) AS d2,
       CAST(len(list_filter(c3, c -> s3 > c)) AS INT) AS d3,
       round((len(list_filter(c1, c -> s1 > c))
              + len(list_filter(c2, c -> s2 > c))
              + len(list_filter(c3, c -> s3 > c))) / 3.0, 6)
         AS ensemble_decile
FROM s CROSS JOIN cuts
"""


@q("quality_ensemble_deciles", _ensemble_sql())
def quality_ensemble_deciles_q(spark, sf_dir):
    """Rank-normalized multi-signal quality ensembling (the
    FineWeb-Edu lesson: raw signal scales are incomparable, so blend
    RANKS, not values): each doc's heuristic quality score, token
    entropy and token count map to corpus deciles via 9 exact
    quantile cutoffs per signal (rounded to 6dp before the boundary
    compare on both engines - the adaptive_quality_cutoff
    discipline), and the ensemble is the mean decile. Scale shape:
    one signal projection (entropy joins back on doc_id), a 1-row
    27-value cutoff frame on a broadcast one-row cross join, per-row
    decile arithmetic - never a global rank/ntile window over the
    corpus."""
    from ..operators.textstats import (
        entropy_stats,
        quality_score,
        token_count,
    )

    docs = read_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.round(quality_score(F.col("text")), 6).alias("s1"),
        token_count(F.col("text")).cast("double").alias("s3"),
    )
    ent = entropy_stats(docs).select(
        "doc_id", F.col("token_entropy").alias("s2")
    )
    # EAGER checkpoint: the signal frame feeds both the broadcast
    # cutoff aggregate and the per-row decile scan - without
    # materialization the whole base+entropy chain (with its
    # doc-keyed join) executes once per consumer (the
    # tfidf_hash_embeddings A/B lesson, BENCH_DETAIL ab_checks)
    s = base.join(ent, "doc_id").localCheckpoint(eager=True)
    pcts = F.array(*[F.lit(i / 10.0) for i in range(1, 10)])
    cuts = s.agg(
        *[
            F.transform(
                F.percentile(F.col(c), pcts), lambda x: F.round(x, 6)
            ).alias(f"c{i}")
            for i, c in ((1, "s1"), (2, "s2"), (3, "s3"))
        ]
    )
    j = s.crossJoin(F.broadcast(cuts))

    def dec(sig, cut):
        return F.size(
            F.filter(F.col(cut), lambda c: F.col(sig) > c)
        )

    return j.select(
        "doc_id",
        dec("s1", "c1").cast("int").alias("d1"),
        dec("s2", "c2").cast("int").alias("d2"),
        dec("s3", "c3").cast("int").alias("d3"),
        F.round(
            (dec("s1", "c1") + dec("s2", "c2") + dec("s3", "c3"))
            / 3.0,
            6,
        ).alias("ensemble_decile"),
    )


_PR_THRESHOLDS = tuple(i / 10.0 for i in range(1, 10))


def _pr_curve_sql(dim: int = 64, bias: float = -0.1) -> str:
    """Confusion counts at 9 thresholds over the SHARED
    _logreg_score_cte fragment (lang carried; y derived from it)."""
    ths = ", ".join(str(t) for t in _PR_THRESHOLDS)
    return f"""{_logreg_score_cte(dim, bias, carry="lang")},
sy AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y, score
       FROM s),
c AS (
  SELECT th AS threshold,
         CAST(count(*) FILTER (WHERE score >= th AND y = 1) AS BIGINT)
           AS tp,
         CAST(count(*) FILTER (WHERE score >= th AND y = 0) AS BIGINT)
           AS fp,
         CAST(count(*) FILTER (WHERE score < th AND y = 1) AS BIGINT)
           AS fn
  FROM sy CROSS JOIN unnest([{ths}]) AS u(th)
  GROUP BY th
)
SELECT threshold, tp, fp, fn,
       round(tp / nullif(CAST(tp + fp AS DOUBLE), 0), 6) AS precision,
       round(tp / nullif(CAST(tp + fn AS DOUBLE), 0), 6) AS recall,
       round(2.0 * tp / nullif(CAST(2 * tp + fp + fn AS DOUBLE), 0), 6)
         AS f1
FROM c
"""


@q("classifier_pr_curve", _pr_curve_sql())
def classifier_pr_curve_q(spark, sf_dir):
    """The precision/recall/F1 table for the serving quality
    classifier at 9 operating thresholds (truth = lang == 'en', the
    same planted target the trainer fits) - with
    score_calibration_bins, the full evaluation kit an operator reads
    before wiring a threshold into the ingest gate. One pass: the
    cached hashed-feature scores cross a 9-literal threshold explode
    into a 9-group map-side-combined count aggregate - the
    neardup_threshold_sweep pattern applied to model eval."""
    from ..operators.textstats import logreg_score

    docs = read_table(spark, sf_dir, "documents")
    scored = logreg_score(
        _hash_feats(spark, sf_dir), _logreg_weights(64), -0.1
    ).join(docs.select("doc_id", "lang"), "doc_id")
    s = scored.select(
        "score", (F.col("lang") == "en").cast("int").alias("y")
    )
    th = F.explode(
        F.array(*[F.lit(t) for t in _PR_THRESHOLDS])
    ).alias("threshold")
    c = (
        s.select("score", "y", th)
        .groupBy("threshold")
        .agg(
            F.count_if(
                (F.col("score") >= F.col("threshold"))
                & (F.col("y") == 1)
            ).cast("long").alias("tp"),
            F.count_if(
                (F.col("score") >= F.col("threshold"))
                & (F.col("y") == 0)
            ).cast("long").alias("fp"),
            F.count_if(
                (F.col("score") < F.col("threshold"))
                & (F.col("y") == 1)
            ).cast("long").alias("fn"),
        )
    )
    return c.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        F.round(
            F.col("tp")
            / F.nullif((F.col("tp") + F.col("fp")).cast("double"), F.lit(0.0)),
            6,
        ).alias("precision"),
        F.round(
            F.col("tp")
            / F.nullif((F.col("tp") + F.col("fn")).cast("double"), F.lit(0.0)),
            6,
        ).alias("recall"),
        F.round(
            F.lit(2.0)
            * F.col("tp")
            / F.nullif(
                (2 * F.col("tp") + F.col("fp") + F.col("fn")).cast(
                    "double"
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("f1"),
    )


_WEB_FUNNEL_SQL = f"""
WITH RECURSIVE d1 AS (
  SELECT doc_id, source, text FROM documents
  WHERE source NOT IN ('src2', 'src3')
),
sc AS (SELECT doc_id, source, text, {_QSCORE_SQL} AS score FROM d1),
cut AS (
  SELECT source, round(quantile_cont(score, 0.25), 6) AS cutoff
  FROM sc GROUP BY source
),
d2 AS (
  SELECT s.doc_id, s.source, s.text
  FROM sc s JOIN cut c ON s.source = c.source
  WHERE s.score >= c.cutoff
),
s2 AS (SELECT doc_id, source, {_SHINGLES} AS sh FROM d2),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM s2 a JOIN s2 b ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.02
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach AS (
  SELECT a AS id, b AS r FROM edges
  UNION
  SELECT w.id, e.b FROM reach w JOIN edges e ON w.r = e.a
),
comp AS (
  SELECT id AS doc_id, least(id, min(r)) AS component
  FROM reach GROUP BY id
)
SELECT 0 AS stage_idx, 'ingest' AS stage,
       (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs
UNION ALL
SELECT 1, 'domain_blocklist',
       (SELECT CAST(count(*) AS BIGINT) FROM d1)
UNION ALL
SELECT 2, 'quality_cutoff',
       (SELECT CAST(count(*) AS BIGINT) FROM d2)
UNION ALL
SELECT 3, 'neardup_keep',
       (SELECT CAST(count(*) AS BIGINT) FROM d2)
       - (SELECT CAST(count(*) AS BIGINT) FROM comp
          WHERE doc_id != component)
"""


@q("web_pipeline_funnel", _WEB_FUNNEL_SQL)
def web_pipeline_funnel_q(spark, sf_dir):
    """The end-to-end WEB curation funnel, integrated: ingest ->
    domain blocklist (the URL stage's verdict) -> per-source adaptive
    quality cutoff (p25 bars computed on the SURVIVING corpus, not
    the raw one - order matters and the oracle pins it) -> near-dup
    keep (pairs + connected components over the twice-filtered set).
    One row per stage with the surviving doc count - the funnel
    report every curation run publishes. Each stage reuses the
    standalone operator (blocklist predicate, quality_score +
    broadcast cutoffs, connected_components), and the pair stage
    reuses the CACHED corpus-wide pair frame restricted to survivors
    - exact, because Jaccard is pairwise: the induced subgraph's
    edges are precisely the corpus edges with both endpoints
    surviving, so the inverted index is never rebuilt for the
    filtered set (measured 9.0 -> ~4s at sf0.1). The composition is
    value-checked end to end by a single chained CTE oracle."""
    from ..operators.graph import connected_components
    from ..operators.textstats import quality_score

    docs = read_table(spark, sf_dir, "documents")
    d1 = docs.where(~F.col("source").isin("src2", "src3"))
    sc = d1.select(
        "doc_id",
        "source",
        "text",
        F.round(quality_score(F.col("text")), 6).alias("score"),
    )
    cut = sc.groupBy("source").agg(
        F.round(F.percentile(F.col("score"), F.lit(0.25)), 6).alias(
            "cutoff"
        )
    )
    d2 = (
        sc.join(F.broadcast(cut), "source")
        .where(F.col("score") >= F.col("cutoff"))
        .select("doc_id", "source", "text")
        .localCheckpoint(eager=True)  # feeds pairs AND two counts
    )
    ids = d2.select("doc_id")
    pairs = (
        _shared_pairs(spark, sf_dir)
        .join(
            F.broadcast(ids.withColumnRenamed("doc_id", "id_a")),
            "id_a",
            "left_semi",
        )
        .join(
            F.broadcast(ids.withColumnRenamed("doc_id", "id_b")),
            "id_b",
            "left_semi",
        )
    )
    comp = connected_components(pairs, "id_a", "id_b")
    losers = comp.where(F.col("id") != F.col("component"))

    def row(idx, name, frame):
        return frame.agg(
            F.count("*").cast("long").alias("n_docs")
        ).select(
            F.lit(idx).alias("stage_idx"),
            F.lit(name).alias("stage"),
            "n_docs",
        )

    s3 = (
        d2.agg(F.count("*").cast("long").alias("n2"))
        .crossJoin(
            losers.agg(F.count("*").cast("long").alias("nl"))
        )
        .select(
            F.lit(3).alias("stage_idx"),
            F.lit("neardup_keep").alias("stage"),
            (F.col("n2") - F.col("nl")).cast("long").alias("n_docs"),
        )
    )
    return (
        row(0, "ingest", docs)
        .unionByName(row(1, "domain_blocklist", d1))
        .unionByName(row(2, "quality_cutoff", d2))
        .unionByName(s3)
    )


_DUP_HIST_SQL = (
    f"WITH RECURSIVE {_NEARDUP_COMP_CTES},\n"
    """sizes AS (
  SELECT component, count(*) AS group_size FROM comp GROUP BY component
),
all_sizes AS (
  SELECT group_size FROM sizes
  UNION ALL
  SELECT 1 AS group_size FROM documents d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM comp)
)
SELECT CAST(group_size AS BIGINT) AS group_size,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(group_size * count(*) AS BIGINT) AS n_docs
FROM all_sizes GROUP BY group_size"""
)


@q("dup_cluster_size_histogram", _DUP_HIST_SQL)
def dup_cluster_size_histogram_q(spark, sf_dir):
    """Near-dup cluster-size distribution: how much of the corpus
    sits in duplicate groups of each size (group_size 1 = unique
    docs) - the shape a dedup owner checks before picking keep-one
    vs down-weight (SoftDeDup) policy, and the conservation check
    sum(n_docs) == corpus size makes it a release-gate row. Reuses
    the session-cached connected components (_neardup_components -
    no second pair build or CC run); singletons come from a
    broadcast left-anti join against the component assignment (the
    neardup_keep discipline: the clustered-doc list is dup-count
    sized, never corpus sized)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    comp = _neardup_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(
        F.count("*").alias("group_size")
    )
    singles = docs.join(
        F.broadcast(comp.select(F.col("id").alias("doc_id"))),
        "doc_id",
        "left_anti",
    ).select(F.lit(1).alias("group_size"))
    return (
        sizes.select("group_size")
        .unionByName(singles)
        .groupBy("group_size")
        .agg(F.count("*").cast("long").alias("n_groups"))
        .select(
            F.col("group_size").cast("long").alias("group_size"),
            "n_groups",
            (F.col("group_size") * F.col("n_groups"))
            .cast("long")
            .alias("n_docs"),
        )
    )
