"""Documents-table TOKENIZER/LM queries (split from queries/text.py,
r12): BPE / byte-BPE / WordPiece / unigram-LM trainers and encoders,
token accounting, n-gram LMs, entropy/Zipf/perplexity. Pure move -
behavior, oracles, and registration names unchanged."""

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
from .registry import artifact, q
from .text_common import _TOKS


_TOKEN_HIST_SQL = f"""
SELECT tok, count(*) AS n
FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
GROUP BY tok
ORDER BY n DESC, tok
LIMIT 20
"""


@q("token_histogram_top20", _TOKEN_HIST_SQL)
def token_histogram_top20(spark, sf_dir):
    """Corpus token frequency top-20 (explode -> count -> top-k)."""
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.explode(normalized_tokens(F.col("text"))).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(20)
    )


_TOKEN_COUNTS_SQL = f"""
SELECT doc_id,
       CAST(len({_TOKS}) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '\\w+'))
            + length(regexp_replace(text, '[\\w\\s]', '', 'g'))
            AS BIGINT) AS n_bpe_tokens
FROM documents
"""


@q("token_counts", _TOKEN_COUNTS_SQL)
def token_counts(spark, sf_dir):
    """Whitespace vs BPE-ish token counts per document - the two cheap
    stand-ins for a real tokenizer's budget accounting. The BPE-ish
    split (word runs plus every standalone non-word char as its own
    token) is a lookaround regex on the Spark side; the oracle counts
    the same partition as |word matches| + |non-word chars|, which is
    provably the same number without needing lookarounds (RE2 has
    none)."""
    from ..operators.textstats import bpe_ish_token_count, token_count

    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_ws_tokens"),
        bpe_ish_token_count(F.col("text")).cast("long").alias(
            "n_bpe_tokens"
        ),
    )


_BIGRAM_LP_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
p AS (
  SELECT doc_id,
         unnest(toks[1 : len(toks) - 1]) AS w1,
         unnest(toks[2 : len(toks)]) AS w2
  FROM t
),
bi AS (SELECT w1, w2, count(*) AS c2 FROM p GROUP BY 1, 2),
u AS (SELECT unnest(toks) AS w FROM t),
uni AS (SELECT w, count(*) AS c1 FROM u GROUP BY 1),
v AS (SELECT count(DISTINCT w) AS v FROM u)
SELECT p.doc_id,
       round(avg(ln((c2 + 1.0) / (c1 + v.v))), 6) AS avg_logprob,
       count(*) AS n_bigrams
FROM p
JOIN bi USING (w1, w2)
JOIN uni ON uni.w = p.w1
CROSS JOIN v
GROUP BY p.doc_id
"""


@q("doc_bigram_logprob", _BIGRAM_LP_SQL)
def doc_bigram_logprob_q(spark, sf_dir):
    """Per-doc average bigram log-probability under the corpus's own
    add-one-smoothed LM - the CCNet-style perplexity-bucket quality
    signal (model-based, beyond the literal-weight classifier). Docs
    with fewer than two tokens have no bigrams and no row, on both
    engines."""
    from ..operators.textstats import bigram_logprob

    return bigram_logprob(read_table(spark, sf_dir, "documents"))


_BPE_PAIRS_SQL = f"""
WITH toks AS (SELECT unnest({_TOKS}) AS tok FROM documents),
pairs AS (
  SELECT unnest(list_transform(range(1, length(tok)),
                               i -> substring(tok, CAST(i AS INT), 2)))
           AS pair
  FROM toks WHERE length(tok) >= 2
),
counted AS (
  SELECT pair, count(*) AS n FROM pairs GROUP BY pair
),
ranked AS (
  SELECT pair, n,
         row_number() OVER (ORDER BY n DESC, pair) AS rk
  FROM counted
)
SELECT pair, n, rk FROM ranked WHERE rk <= 50
"""


@q("bpe_pair_counts", _BPE_PAIRS_SQL)
def bpe_pair_counts_q(spark, sf_dir):
    """The inner statistic of a BPE tokenizer trainer at iteration 0:
    corpus-wide frequencies of adjacent symbol (character) pairs within
    tokens, top 50 with deterministic (count desc, pair asc) ranking.
    One explode chain feeding one aggregate: per-occurrence pair counts
    shuffle once on the pair key; full BPE training iterates merge +
    recount, and each such round is exactly this plan over the
    rewritten symbol stream. No Python UDF - the pair enumeration is a
    transform over a sequence of substrings, wholly codegen'd."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("tok")
    ).where(F.length("tok") >= 2)
    pairs = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.col("tok").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    counted = pairs.groupBy("pair").agg(F.count("*").alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("pair"))
    return (
        counted.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 50)
        .select("pair", "n", F.col("rk").cast("long").alias("rk"))
    )


def _bpe_vocab_ctes(n_merges: int) -> str:
    """Shared CTE chain of the BPE trainer unroll (the r10
    kmeans/pagerank discipline extended to tokenizer trainers, VERDICT
    r10 #2): per merge step one pair-count CTE + one argmax CTE + one
    fold-merge CTE, every iteration CTE AS MATERIALIZED (DuckDB
    otherwise re-executes the chain EXPONENTIALLY in step count).
    v{n_merges} is the FINAL vocab, keyed by the original token, so
    encode-side consumers (bpe_token_counts) read per-token lengths
    off the same chain the merge table comes from.

    The fold-merge - greedy left-to-right non-overlapping replacement
    of adjacent (l, r) with l||r - runs in list_reduce with a STRING
    accumulator: output symbols joined by chr(31), and "merge" is
    simply appending r WITHOUT a separator whenever the accumulator's
    last symbol equals l (a just-merged symbol l||r can never equal l,
    so the non-overlap rule needs no extra state; the semantics are
    pinned by tests/test_packing.py's pure-Python differential).
    chr(31) never occurs inside a whitespace token of the corpus - a
    unit separator in the text would break only the ORACLE, loudly, as
    a hash mismatch.

    Early stop: the argmax CTE keeps only pairs with n >= 2 (the
    trainer's break condition); the fold LEFT-JOINs its argmax so an
    empty step FREEZES the vocab (matching the trainer's break)
    instead of emptying it, and every post-stop argmax stays empty
    because the pair counts are unchanged."""
    return _merge_loop_ctes(
        f"""v0 AS MATERIALIZED (
  SELECT tok,
         list_filter(string_split_regex(tok, ''),
                     x -> len(x) > 0) AS _sym,
         count(*)::BIGINT AS _w
  FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
  WHERE tok <> ''
  GROUP BY tok
)""",
        n_merges,
    )


def _merge_loop_ctes(v0_sql: str, n_merges: int) -> str:
    """The alphabet-AGNOSTIC merge-loop unroll shared by the word-level
    (_bpe_vocab_ctes) and byte-level (_byte_bpe_vocab_ctes) trainer
    oracles: v0 defines the alphabet (character symbols vs hex byte
    pairs); the per-step pair-count/argmax/fold triple is identical -
    the same sharing the Spark trainers get from _bpe_train_loop."""
    sep = "chr(31)"
    ctes = [v0_sql]
    for k in range(n_merges):
        ctes.append(
            f"""p{k} AS MATERIALIZED (
  SELECT list_extract(_sym, i) AS l, list_extract(_sym, i + 1) AS r,
         sum(_w)::BIGINT AS n
  FROM v{k}, unnest(range(1, len(_sym))) AS t(i)
  GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"""b{k} AS MATERIALIZED (
  SELECT l, r, n FROM p{k} WHERE n >= 2 ORDER BY n DESC, l, r LIMIT 1
)"""
        )
        ctes.append(
            f"""v{k + 1} AS MATERIALIZED (
  SELECT tok,
         CASE WHEN b.l IS NULL THEN _sym
              ELSE string_split(
                list_reduce(_sym, (acc, x) -> CASE
                  WHEN (acc = b.l OR ends_with(acc, {sep} || b.l))
                       AND x = b.r
                  THEN acc || x
                  ELSE acc || {sep} || x END),
                {sep}) END AS _sym,
         _w
  FROM v{k} LEFT JOIN b{k} b ON TRUE
)"""
        )
    return ",\n".join(ctes)


def _bpe_unroll_sql(n_merges: int = 10) -> str:
    """bpe_merge_rules' oracle: the merge table off _bpe_vocab_ctes."""
    union = "\nUNION ALL ".join(
        f'SELECT {k} AS step, l AS "left", r AS "right", '
        f"l || r AS merged, n FROM b{k}"
        for k in range(n_merges)
    )
    return (
        "WITH "
        + _bpe_vocab_ctes(n_merges)
        + f"\nSELECT * FROM (\n{union}\n) ORDER BY step"
    )


def _bpe_counts_sql(n_merges: int = 10) -> str:
    """bpe_token_counts' oracle: the encode replay IS the final vocab
    of the trainer chain - per corpus-distinct token, the trained
    symbol count is len(_sym) in v{n_merges} (the vocab-amortization
    the Spark operator uses, expressed as a CTE join instead of an
    Arrow stage); per-doc totals are one (doc, token) aggregate joined
    back. Docs with no words emit (0, 0) via the LEFT JOIN, exactly
    like the operator's final left join."""
    return (
        "WITH "
        + _bpe_vocab_ctes(n_merges)
        + f""",
perdoc AS MATERIALIZED (
  SELECT doc_id, tok, count(*)::BIGINT AS _n
  FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
  WHERE tok <> ''
  GROUP BY doc_id, tok
)
SELECT d.doc_id,
       coalesce(sum(p._n), 0)::BIGINT AS n_words,
       coalesce(sum(p._n * len(v._sym)), 0)::BIGINT AS n_bpe_tokens
FROM documents d
LEFT JOIN perdoc p ON p.doc_id = d.doc_id
LEFT JOIN v{n_merges} v ON v.tok = p.tok
GROUP BY d.doc_id
"""
    )


# Per-corpus artifact of the 10 trained merge rules (a kilobyte-sized
# driver value, like the minhash index / shingle artifacts): the
# iterative trainer runs once per corpus per session even when both BPE
# queries (and the bench) execute in the same session.
def _trained_merges(spark, sf_dir, n_merges: int = 10):
    from ..operators.textstats import bpe_train

    return artifact(
        spark, sf_dir, "documents", f"bpe_merges:{n_merges}",
        lambda: bpe_train(
            read_table(spark, sf_dir, "documents"), n_merges=n_merges
        ),
    )


@q("bpe_merge_rules", _bpe_unroll_sql(10))
def bpe_merge_rules_q(spark, sf_dir):
    """Ten BPE merge rules trained on the corpus (the iterative loop
    over bpe_pair_counts' statistic: argmax pair -> merge -> recount).
    Oracle-paired since r11 via the fixed-iteration CTE unroll
    (_bpe_unroll_sql - each merge is one pair-count + argmax +
    fold-merge MATERIALIZED CTE triple, the kmeans/pagerank unroll
    discipline); the merge sequence is ALSO pinned exactly by the
    pure-Python differential in tests/test_packing.py. Corpus-sized
    work is ONE token groupBy; every iteration touches only the
    distinct-token vocabulary."""
    merges = _trained_merges(spark, sf_dir, n_merges=10)
    return spark.createDataFrame(
        merges, "step int, left string, right string, merged string, n long"
    )


@q("bpe_token_counts", _bpe_counts_sql(10))
def bpe_token_counts_q(spark, sf_dir):
    """Corpus tokenized with the TRAINED tokenizer: per-document word
    and BPE-token counts after replaying the 10 learned merges - the
    token accounting a mixture/budget planner runs (budgets are
    tokenizer tokens, not whitespace words). Oracle-paired since r11:
    the unrolled trainer chain's FINAL vocab carries per-token encoded
    lengths (_bpe_counts_sql), so the oracle replays training AND
    encoding in one CTE pipeline; the encoder is ALSO pinned by the
    pure-Python differential in tests/test_packing.py (counts + the
    never-grows/zero-merge properties)."""
    from ..operators.textstats import bpe_encode_counts

    docs = read_table(spark, sf_dir, "documents")
    merges = _trained_merges(spark, sf_dir, n_merges=10)
    return bpe_encode_counts(docs, merges).orderBy("doc_id")


def _byte_bpe_vocab_ctes(n_merges: int) -> str:
    """Byte-level trainer unroll (r11 verdict #3: rows-only ->
    oracle-paired): v0 pretokenizes with the RE2-safe twin of the
    GPT-2 regex (operators/textstats.BYTE_BPE_PRETOKEN_RE2 - corpus-
    exact vs the Java lookahead form, pinned per-document in
    tests/test_packing.py) and splits each pretoken into its UTF-8
    bytes as uppercase hex-pair symbols (hex() of the token, two
    chars per byte - the same alphabet byte_symbols builds JVM-side),
    then runs the SAME alphabet-agnostic merge-loop CTE triple the
    word-level oracle uses (_merge_loop_ctes)."""
    from ..operators.textstats import BYTE_BPE_PRETOKEN_RE2

    pat = BYTE_BPE_PRETOKEN_RE2.replace("'", "''")
    return _merge_loop_ctes(
        f"""v0 AS MATERIALIZED (
  SELECT tok,
         list_transform(range(1, len(hex(tok)) // 2 + 1),
                        i -> substr(hex(tok), 2 * i - 1, 2)) AS _sym,
         count(*)::BIGINT AS _w
  FROM (SELECT unnest(regexp_extract_all(text, '{pat}')) AS tok
        FROM documents)
  WHERE tok <> ''
  GROUP BY tok
)""",
        n_merges,
    )


def _byte_bpe_unroll_sql(n_merges: int = 10) -> str:
    """byte_bpe_merge_rules' oracle: the merge table off
    _byte_bpe_vocab_ctes (hex-pair left/right/merged symbols, exactly
    what byte_bpe_train returns)."""
    union = "\nUNION ALL ".join(
        f'SELECT {k} AS step, l AS "left", r AS "right", '
        f"l || r AS merged, n FROM b{k}"
        for k in range(n_merges)
    )
    return (
        "WITH "
        + _byte_bpe_vocab_ctes(n_merges)
        + f"\nSELECT * FROM (\n{union}\n) ORDER BY step"
    )


def _byte_bpe_counts_sql(n_merges: int = 10) -> str:
    """byte_bpe_token_counts' oracle: per corpus-distinct PRETOKEN the
    trained symbol count is len(_sym) in the chain's final vocab -
    _bpe_counts_sql's shape on the byte alphabet, pretokens from the
    RE2-safe twin regex."""
    from ..operators.textstats import BYTE_BPE_PRETOKEN_RE2

    pat = BYTE_BPE_PRETOKEN_RE2.replace("'", "''")
    return (
        "WITH "
        + _byte_bpe_vocab_ctes(n_merges)
        + f""",
perdoc AS MATERIALIZED (
  SELECT doc_id, tok, count(*)::BIGINT AS _n
  FROM (SELECT doc_id,
               unnest(regexp_extract_all(text, '{pat}')) AS tok
        FROM documents)
  WHERE tok <> ''
  GROUP BY doc_id, tok
)
SELECT d.doc_id,
       coalesce(sum(p._n), 0)::BIGINT AS n_pretokens,
       coalesce(sum(p._n * len(v._sym)), 0)::BIGINT AS n_bpe_tokens
FROM documents d
LEFT JOIN perdoc p ON p.doc_id = d.doc_id
LEFT JOIN v{n_merges} v ON v.tok = p.tok
GROUP BY d.doc_id
"""
    )


def _trained_byte_merges(spark, sf_dir, n_merges: int = 10):
    from ..operators.textstats import byte_bpe_train

    return artifact(
        spark, sf_dir, "documents", f"byte_bpe_merges:{n_merges}",
        lambda: byte_bpe_train(
            read_table(spark, sf_dir, "documents"), n_merges=n_merges
        ),
    )


@q("byte_bpe_merge_rules", _byte_bpe_unroll_sql(10))
def byte_bpe_merge_rules_q(spark, sf_dir):
    """Ten BYTE-LEVEL BPE merges (GPT-2 shape: regex pre-tokenization,
    UTF-8 byte alphabet as hex-pair symbols) - bpe_merge_rules' byte
    twin, sharing the alphabet-agnostic merge loop. Oracle-paired
    since r12 (previously rows-only): the blocker was the GPT-2
    pretokenizer's negative lookahead (\\s+(?!\\S)), which DuckDB's
    RE2 cannot express - the oracle now pretokenizes with the RE2-safe
    anchored twin (BYTE_BPE_PRETOKEN_RE2), pinned corpus-exact against
    the Java/Python lookahead form per document in
    tests/test_packing.py, and unrolls the merge loop through the same
    MATERIALIZED CTE triple as the word-level trainer
    (_byte_bpe_unroll_sql). The exact merge sequence (incl. multi-byte
    UTF-8 and contraction pretokens) stays ALSO pinned by the
    pure-Python byte-level differential there."""
    merges = _trained_byte_merges(spark, sf_dir, n_merges=10)
    return spark.createDataFrame(
        merges, "step int, left string, right string, merged string, n long"
    )


@q("byte_bpe_token_counts", _byte_bpe_counts_sql(10))
def byte_bpe_token_counts_q(spark, sf_dir):
    """Corpus tokenized with the TRAINED byte-level tokenizer: per-doc
    pretoken + BPE token counts after replaying the 10 learned merges.
    Same vocab-amortized encode shape as bpe_token_counts (Python
    replay once per corpus-distinct PRETOKEN, corpus-sized work all
    JVM-side) - the amortization survives the byte alphabet because
    the alphabet only lengthens symbol arrays, never changes the
    vocab row-count class. Oracle-paired since r12 via the unrolled
    chain's final vocab (_byte_bpe_counts_sql, the RE2-safe pretoken
    twin); the encoder stays ALSO pinned by the differential in
    tests/test_packing.py."""
    from ..operators.textstats import byte_bpe_encode_counts

    docs = read_table(spark, sf_dir, "documents")
    merges = _trained_byte_merges(spark, sf_dir, n_merges=10)
    return byte_bpe_encode_counts(docs, merges).orderBy("doc_id")


_KN_LP_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
p AS (
  SELECT doc_id,
         unnest(toks[1 : len(toks) - 1]) AS w1,
         unnest(toks[2 : len(toks)]) AS w2
  FROM t
),
bi AS (SELECT w1, w2, count(*) AS c2 FROM p GROUP BY 1, 2),
ctx AS (SELECT w1, sum(c2) AS ctx, count(*) AS n1_fwd FROM bi GROUP BY 1),
back AS (SELECT w2, count(*) AS n1_back FROM bi GROUP BY 1),
ty AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM bi)
SELECT p.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(ln(greatest(c2 - 0.75, 0.0) / ctx
                    + 0.75 * n1_fwd / ctx * (n1_back / ty.t))), 6)
         AS avg_kn_logprob
FROM p
JOIN bi USING (w1, w2)
JOIN ctx USING (w1)
JOIN back USING (w2)
CROSS JOIN ty
GROUP BY p.doc_id
"""


@q("kn_bigram_logprob", _KN_LP_SQL)
def kn_bigram_logprob_q(spark, sf_dir):
    """Per-doc average bigram log-probability under an interpolated
    KNESER-NEY LM (fixed discount 0.75) trained on the corpus - the
    smoothing production fluency filters actually use, upgrading
    doc_bigram_logprob's add-one baseline: contexts keep their
    observed mass minus a flat discount, and the stolen mass backs
    off to CONTINUATION counts (how many contexts a word follows),
    not raw frequency. Per-context sum-to-1 is pinned to 1e-12 by
    the numpy differential."""
    from ..operators.textstats import kneser_ney_logprob

    return kneser_ney_logprob(read_table(spark, sf_dir, "documents"))


# Session artifact of the trained unigram vocab per corpus (the
# _trained_merges discipline): vocab + piece-count queries and the
# bench share one training run.
def _trained_unigram_vocab(spark, sf_dir):
    from ..operators.textstats import unigram_lm_train

    return artifact(
        spark, sf_dir, "documents", "unigram_vocab",
        lambda: unigram_lm_train(
            read_table(spark, sf_dir, "documents"),
            vocab_size=80,
            seed_size=300,
            em_iters=1,
        ),
    )


@q("unigram_lm_vocab", None)
def unigram_lm_vocab_q(spark, sf_dir):
    """SentencePiece-style unigram-LM tokenizer vocabulary trained on
    the corpus (Kudo 2018): seed substring inventory -> EM over every
    word's segmentation lattice -> expected-count pruning to the
    target size. Stays rows-only even after the r11 unroll thesis
    reached the BPE/WordPiece trainers AND WordPiece's runtime
    segmenter: the E-step is forward-backward marginalization over
    the segmentation lattice - sums of PRODUCTS of float
    probabilities whose value depends on accumulation order at the
    ulp level (the operator pins 'identical accumulation order' even
    between its own two paths), so a SQL re-derivation cannot
    hash-match robustly; the whole seed/EM/prune loop is pinned
    exactly by the pure-Python differential in
    tests/test_textstats_unigram.py, which also pins driver path ==
    distributed path. Corpus-sized work is ONE word groupBy; every EM
    pass touches only the distinct-word frame with the piece table
    broadcast."""
    vocab = _trained_unigram_vocab(spark, sf_dir)
    return spark.createDataFrame(
        [(i, p, round(lp, 6)) for i, (p, lp) in enumerate(vocab)],
        "rank int, piece string, logp double",
    )


@q("unigram_piece_counts", None)
def unigram_piece_counts_q(spark, sf_dir):
    """Corpus piece-frequency table under the TRAINED unigram
    tokenizer: Viterbi-segment every distinct word once (vocab
    broadcast, the vocab-amortized bpe_token_counts discipline) and
    scale by word frequency. Rows-only BY NECESSITY: Viterbi argmaxes
    over summed float log-probs from the EM-trained vocab - both the
    training (see unigram_lm_vocab) and the path comparison are
    accumulation-order-sensitive at the ulp, so no SQL oracle can
    hash-match robustly; the Viterbi encoder is pinned against
    brute-force enumeration in tests/test_textstats_unigram.py."""
    from ..operators.textstats import unigram_encode_counts

    docs = read_table(spark, sf_dir, "documents")
    vocab = _trained_unigram_vocab(spark, sf_dir)
    return unigram_encode_counts(docs, vocab).orderBy(
        F.col("n").desc(), "piece"
    )


def _trained_wordpiece(spark, sf_dir, n_merges: int = 10):
    from ..operators.textstats import wordpiece_train

    return artifact(
        spark, sf_dir, "documents", f"wordpiece:{n_merges}",
        lambda: wordpiece_train(
            read_table(spark, sf_dir, "documents"), n_merges=n_merges
        ),
    )


def _wordpiece_ctes(n_merges: int) -> str:
    """Shared CTE chain of the WordPiece trainer unroll - the
    _bpe_vocab_ctes discipline with two deltas per step: a per-step
    symbol-count CTE feeding the likelihood-gain score
    n / (count(l) * count(r)) (argmax on score, (l, r) tie-break; the
    score is an exact-integer ratio computed in DOUBLE identically on
    both engines, so ordering cannot diverge), and the merged symbol
    dissolves the right piece's '##' continuation marker
    (_wp_merge's HuggingFace convention) - in the string-accumulator
    fold that means appending strip(r) instead of r. Early stop: the
    argmax CTE requires n >= 2; an empty argmax empties all later
    vocab CTEs."""
    sep = "chr(31)"
    strip_r = "(CASE WHEN b.r LIKE '##%' THEN b.r[3:] ELSE b.r END)"
    ctes = [
        f"""tokfreq AS MATERIALIZED (
  SELECT tok, count(*)::BIGINT AS _w
  FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
  WHERE tok <> ''
  GROUP BY tok
)""",
        """w0 AS MATERIALIZED (
  SELECT [CASE WHEN i = 1 THEN cs[i] ELSE '##' || cs[i] END
          FOR i IN range(1, len(cs) + 1)] AS _sym, _w
  FROM (
    SELECT list_filter(string_split_regex(tok, ''),
                       x -> len(x) > 0) AS cs, _w
    FROM tokfreq
  )
)""",
    ]
    for k in range(n_merges):
        ctes.append(
            f"""s{k} AS MATERIALIZED (
  SELECT _s, sum(_w)::BIGINT AS _cnt
  FROM (SELECT unnest(_sym) AS _s, _w FROM w{k}) GROUP BY _s
)"""
        )
        ctes.append(
            f"""p{k} AS MATERIALIZED (
  SELECT list_extract(_sym, i) AS l, list_extract(_sym, i + 1) AS r,
         sum(_w)::BIGINT AS n
  FROM w{k}, unnest(range(1, len(_sym))) AS t(i)
  GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"""b{k} AS MATERIALIZED (
  SELECT p.l, p.r, p.n
  FROM p{k} p
  JOIN s{k} sl ON sl._s = p.l
  JOIN s{k} sr ON sr._s = p.r
  WHERE p.n >= 2
  ORDER BY p.n::DOUBLE / (sl._cnt::DOUBLE * sr._cnt::DOUBLE) DESC,
           p.l, p.r
  LIMIT 1
)"""
        )
        if k < n_merges - 1:
            ctes.append(
                f"""w{k + 1} AS MATERIALIZED (
  SELECT string_split(
           list_reduce(_sym, (acc, x) -> CASE
             WHEN (acc = b.l OR ends_with(acc, {sep} || b.l))
                  AND x = b.r
             THEN acc || {strip_r}
             ELSE acc || {sep} || x END),
           {sep}) AS _sym,
         _w
  FROM w{k}, b{k} b
)"""
            )
    return ",\n".join(ctes)


def _wordpiece_union(n_merges: int) -> str:
    strip_r = "(CASE WHEN b.r LIKE '##%' THEN b.r[3:] ELSE b.r END)"
    return "\nUNION ALL ".join(
        f'SELECT {k} AS step, b.l AS "left", b.r AS "right", '
        f"b.l || {strip_r} AS merged, b.n FROM b{k} b"
        for k in range(n_merges)
    )


def _wordpiece_unroll_sql(n_merges: int = 10) -> str:
    """wordpiece_merge_rules' oracle: the merge table off
    _wordpiece_ctes."""
    return (
        "WITH "
        + _wordpiece_ctes(n_merges)
        + "\nSELECT * FROM (\n"
        + _wordpiece_union(n_merges)
        + "\n) ORDER BY step"
    )


def _wordpiece_counts_sql(n_merges: int = 10) -> str:
    """wordpiece_token_counts' oracle: BERT's RUNTIME greedy
    longest-match-first segmenter expressed relationally (the r11
    extension of the unroll thesis from trainers to a runtime
    algorithm). The trick that makes it SQL: `first` is derived from
    position (pos == 1), so the best match at every (word, pos) is a
    PURE function precomputable as one join+argmax over the
    (position x vocab-piece) grid - bounded by total corpus-distinct
    word length, not corpus size - and the greedy walk is then a
    recursive CTE following the unique (tok, pos) -> pos + best_len
    path (deterministic: one row per word per step). A word whose walk
    stalls before the end has no vocab piece at some position - the
    dead end that makes the WHOLE word [UNK], exactly the operator's
    semantics. The trained vocab is derived in-query from the unrolled
    trainer chain: ascii alphabet (plain + ##) + every argmax's l/r +
    merged pieces - the same construction the Spark query performs."""
    import string as _string

    alpha = ", ".join(
        f"'{c}'" for c in (_string.ascii_lowercase + _string.digits)
    )
    strip_r = "(CASE WHEN b.r LIKE '##%' THEN b.r[3:] ELSE b.r END)"
    merged_union = "\nUNION ALL ".join(
        f"SELECT b.l AS form FROM b{k} b\n"
        f"UNION ALL SELECT b.r FROM b{k} b\n"
        f"UNION ALL SELECT b.l || {strip_r} FROM b{k} b"
        for k in range(n_merges)
    )
    return (
        "WITH RECURSIVE "
        + _wordpiece_ctes(n_merges)
        + f""",
alpha AS (SELECT unnest([{alpha}]) AS c),
vocab AS MATERIALIZED (
  SELECT DISTINCT form FROM (
    SELECT c AS form FROM alpha
    UNION ALL SELECT '##' || c FROM alpha
    UNION ALL {merged_union}
  )
),
vocabl AS MATERIALIZED (
  -- a form's role mirrors the operator's candidate construction
  -- (word[i:j] if first else '##' + word[i:j]): EVERY form can match
  -- at position 1 against its full text - including a merged plain
  -- form that happens to read '##' - and only '##'-prefixed forms
  -- with NONEMPTY raw text also serve as continuations. Classifying
  -- by LIKE alone gave a '##' plain form rawlen 0, whose empty-string
  -- match made the recursive walk spin forever (r11 review wave 2,
  -- reproduced on a planted '#' corpus).
  SELECT form, len(form) AS rawlen, false AS cont FROM vocab
  UNION ALL
  SELECT form, len(form) - 2, true FROM vocab
  WHERE form LIKE '##%' AND len(form) > 2
),
positions AS (
  SELECT tok, i AS pos
  FROM tokfreq, unnest(range(1, len(tok) + 1)) AS t(i)
),
best AS MATERIALIZED (
  SELECT p.tok, p.pos, max(v.rawlen) AS blen
  FROM positions p JOIN vocabl v
    ON v.cont = (p.pos > 1)
   AND v.rawlen <= len(p.tok) - p.pos + 1
   AND substr(p.tok, p.pos, v.rawlen)
       = (CASE WHEN v.cont THEN v.form[3:] ELSE v.form END)
  GROUP BY 1, 2
),
seg AS (
  SELECT tok, 1 AS pos, CAST(NULL AS VARCHAR) AS piece FROM tokfreq
  UNION ALL
  SELECT s.tok, s.pos + b.blen,
         CASE WHEN s.pos = 1 THEN substr(s.tok, s.pos, b.blen)
              ELSE '##' || substr(s.tok, s.pos, b.blen) END
  FROM seg s JOIN best b ON b.tok = s.tok AND b.pos = s.pos
  WHERE s.pos <= len(s.tok)
),
walked AS MATERIALIZED (
  SELECT tok, max(pos) AS maxpos FROM seg GROUP BY tok
),
pieces AS (
  SELECT s.tok, s.piece
  FROM seg s JOIN walked d ON d.tok = s.tok
  WHERE s.piece IS NOT NULL AND d.maxpos = len(s.tok) + 1
  UNION ALL
  SELECT d.tok, '[UNK]' FROM walked d WHERE d.maxpos <= len(d.tok)
)
SELECT p.piece, sum(w._w)::BIGINT AS n
FROM pieces p JOIN tokfreq w ON w.tok = p.tok
GROUP BY p.piece
"""
    )


@q("wordpiece_merge_rules", _wordpiece_unroll_sql(10))
def wordpiece_merge_rules_q(spark, sf_dir):
    """Ten WordPiece merge rules trained on the corpus - the BERT
    tokenizer trainer, completing the family next to word BPE, byte
    BPE and unigram-LM. Same machinery as bpe_merge_rules but each
    step maximizes count(l,r)/(count(l)*count(r)) (likelihood gain)
    over '##'-marked word-internal symbols. Oracle-paired since r11
    via the fixed-iteration CTE unroll (_wordpiece_unroll_sql); the
    merge sequence and the driver==distributed paths are ALSO pinned
    by the pure-Python differential in tests/test_wordpiece.py."""
    merges = _trained_wordpiece(spark, sf_dir, n_merges=10)
    return spark.createDataFrame(
        merges,
        "step int, left string, right string, merged string, n long",
    )


@q("wordpiece_token_counts", _wordpiece_counts_sql(10))
def wordpiece_token_counts_q(spark, sf_dir):
    """Corpus piece frequencies under the TRAINED WordPiece vocab via
    the real runtime algorithm - greedy longest-match-first with
    [UNK] dead-end fallback (BERT's tokenizer, NOT merge replay).
    Vocab-amortized: segmentation runs once per distinct word.
    Oracle-paired since r11 (_wordpiece_counts_sql): the best match at
    each (word, position) is a pure function - `first` derives from
    position - precomputed as one join+argmax, and the greedy walk is
    a recursive CTE following the unique path; a stalled walk makes
    the whole word [UNK], exactly this operator's semantics. ALSO
    pinned on hand-built words in tests/test_wordpiece.py."""
    from ..operators.textstats import wordpiece_encode_counts

    docs = read_table(spark, sf_dir, "documents")
    merges = _trained_wordpiece(spark, sf_dir, n_merges=10)
    # trained vocab = every alphabet symbol live in the corpus plus
    # the merged pieces; alphabet = single chars and their ## forms
    alphabet = set()
    for _, left, right, _m, _n in merges:
        alphabet.add(left)
        alphabet.add(right)
    import string

    base = set(string.ascii_lowercase) | set(string.digits)
    vocab = (
        {c for c in base}
        | {"##" + c for c in base}
        | alphabet
        | {m for _, _l, _r, m, _n in merges}
    )
    return wordpiece_encode_counts(docs, vocab).orderBy(
        F.col("n").desc(), "piece"
    )


_PPL_BUCKET_SQL = f"""
WITH scored AS (
  SELECT s.doc_id, d.lang, s.avg_kn_logprob
  FROM ({_KN_LP_SQL}) s JOIN documents d ON s.doc_id = d.doc_id
),
cuts AS (
  SELECT lang,
         round(quantile_cont(avg_kn_logprob, 1.0/3), 6) AS c_low,
         round(quantile_cont(avg_kn_logprob, 2.0/3), 6) AS c_high
  FROM scored GROUP BY lang
)
SELECT s.doc_id, s.lang, s.avg_kn_logprob,
       CASE WHEN s.avg_kn_logprob >= c.c_high THEN 'head'
            WHEN s.avg_kn_logprob >= c.c_low THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scored s JOIN cuts c ON s.lang = c.lang
"""


@q("perplexity_buckets", _PPL_BUCKET_SQL)
def perplexity_buckets_q(spark, sf_dir):
    """CCNet-style head/middle/tail perplexity bucketing (Wenzek et
    al. 2020): docs scored by the corpus-trained Kneser-Ney bigram LM
    are split into PER-LANGUAGE fluency terciles - CCNet's insight
    being that a single global perplexity bar misranks languages the
    LM knows unevenly, the same lesson adaptive_quality_cutoff applies
    to heuristic scores. Exact interpolated terciles (percentile ==
    quantile_cont, 6dp-rounded before the boundary compare); the
    3-row-per-lang cutoff frame BROADCASTS back onto the scored
    projection. Downstream consumers typically keep head+middle for
    training and send tail to review."""
    from ..operators.textstats import kneser_ney_logprob

    docs = read_table(spark, sf_dir, "documents")
    scored = kneser_ney_logprob(docs).join(
        docs.select("doc_id", "lang"), "doc_id"
    ).select("doc_id", "lang", "avg_kn_logprob")
    cuts = scored.groupBy("lang").agg(
        F.round(
            F.percentile(F.col("avg_kn_logprob"), F.lit(1.0 / 3)), 6
        ).alias("c_low"),
        F.round(
            F.percentile(F.col("avg_kn_logprob"), F.lit(2.0 / 3)), 6
        ).alias("c_high"),
    )
    return scored.join(F.broadcast(cuts), "lang").select(
        "doc_id",
        "lang",
        "avg_kn_logprob",
        F.when(F.col("avg_kn_logprob") >= F.col("c_high"), "head")
        .when(F.col("avg_kn_logprob") >= F.col("c_low"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


def _entropy_sql() -> str:
    """Mirror of entropy_stats via the same aggregate identity
    H = ln(n) - sum(c ln c)/n over per-value counts (chars by 1-based
    substring indexing, tokens by _TOKS)."""

    def h(arr: str) -> str:
        # CASE guard: DuckDB evaluates ln(0) eagerly for an empty
        # array (the coalesce never sees it - verified error), and the
        # engine defines degenerate entropy as 0.0
        body = (
            f"coalesce(ln(len({arr}))"
            f" - list_sum(list_transform(list_sort(list_distinct({arr})),"
            f" u -> CAST(len(list_filter({arr}, x -> x = u)) AS DOUBLE)"
            f" * ln(len(list_filter({arr}, x -> x = u)))))"
            f" / len({arr}), 0.0)"
        )
        return f"CASE WHEN len({arr}) = 0 THEN 0.0 ELSE {body} END"

    chars = (
        "list_transform(range(1, length(lower(text)) + 1),"
        " i -> lower(text)[i])"
    )
    toks = f"list_filter({_TOKS}, w -> len(w) > 0)"
    return f"""
WITH c AS (
  SELECT doc_id, {chars} AS ch, {toks} AS tk FROM documents
)
SELECT doc_id,
       round({h('ch')}, 6) AS char_entropy,
       round({h('tk')}, 6) AS token_entropy
FROM c
"""


@q("entropy_stats", _entropy_sql())
def entropy_stats_q(spark, sf_dir):
    """Character- and token-level Shannon entropy per document - the
    classic gibberish/boilerplate detectors (low char entropy flags
    repeated-run and encoded-blob pages, low token entropy flags
    keyword stuffing and templates) next to the Gopher ratios. One
    zero-shuffle whole-stage projection; distinct values are sorted
    before the fold on BOTH engines so even the float summation order
    is pinned and the entropy VALUES oracle-check."""
    from ..operators.textstats import entropy_stats

    return entropy_stats(read_table(spark, sf_dir, "documents"))


_ZIPF_SQL = f"""
WITH tf AS (
  SELECT lang, tok, CAST(count(*) AS DOUBLE) AS c
  FROM (SELECT lang, unnest({_TOKS}) AS tok FROM documents)
  GROUP BY 1, 2
),
rk AS (
  SELECT lang, c,
         row_number() OVER (PARTITION BY lang
                            ORDER BY c DESC, tok) AS rnk
  FROM tf
),
xy AS (
  SELECT lang, ln(CAST(rnk AS DOUBLE)) AS x, ln(c) AS y
  FROM rk WHERE rnk <= 500
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_ranks,
       round((count(*) * sum(x * y) - sum(x) * sum(y))
             / nullif(count(*) * sum(x * x) - sum(x) * sum(x), 0), 6)
         AS zipf_slope,
       round(pow(count(*) * sum(x * y) - sum(x) * sum(y), 2)
             / nullif((count(*) * sum(x * x) - sum(x) * sum(x))
                      * (count(*) * sum(y * y) - sum(y) * sum(y)), 0),
             6) AS r2
FROM xy GROUP BY lang
"""


@q("zipf_fit", _ZIPF_SQL)
def zipf_fit_q(spark, sf_dir):
    """Zipf's-law fit per language: OLS slope and r-squared of
    ln(frequency) against ln(rank) over the top-500 token ranks - the
    corpus-health fingerprint (natural language sits near slope -1
    with high r2; template/boilerplate-heavy or synthetic text bends
    the curve, and a drifting slope between snapshots flags a crawl
    regression before any model sees the data). Plan shape: the
    corpus collapses to ONE (lang, token) map-side-combined count;
    ranking windows over the vocabulary-sized aggregate output (never
    corpus rows), the rank<=500 cut bounds the regression input, and
    the fit is a per-lang 6-sum aggregate."""
    docs = read_table(spark, sf_dir, "documents")
    from ..operators.dedup import normalized_tokens

    tf = (
        docs.select(
            "lang",
            F.explode(normalized_tokens(F.col("text"))).alias("tok"),
        )
        .groupBy("lang", "tok")
        .agg(F.count("*").cast("double").alias("c"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("c"), "tok")
    xy = (
        tf.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 500)
        .select(
            "lang",
            F.log(F.col("rnk").cast("double")).alias("x"),
            F.log("c").alias("y"),
        )
    )
    n = F.count("*").cast("double")
    sx, sy = F.sum("x"), F.sum("y")
    sxy, sxx, syy = (
        F.sum(F.col("x") * F.col("y")),
        F.sum(F.col("x") * F.col("x")),
        F.sum(F.col("y") * F.col("y")),
    )
    cov, varx, vary = (
        n * sxy - sx * sy,
        n * sxx - sx * sx,
        n * syy - sy * sy,
    )
    return xy.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_ranks"),
        F.round(cov / F.nullif(varx, F.lit(0.0)), 6).alias(
            "zipf_slope"
        ),
        F.round(
            F.pow(cov, 2) / F.nullif(varx * vary, F.lit(0.0)), 6
        ).alias("r2"),
    )


def _fertility_sql(n_merges: int = 10) -> str:
    """tokenizer_fertility_by_source's oracle: the trained-vocab CTE
    chain (_bpe_vocab_ctes, the r11 unroll) replayed per corpus-
    distinct token, aggregated per SOURCE instead of per doc - the
    same v{n}-join encode the bpe_token_counts oracle uses."""
    return (
        "WITH "
        + _bpe_vocab_ctes(n_merges)
        + f""",
perdoc AS MATERIALIZED (
  SELECT doc_id, tok, count(*)::BIGINT AS _n
  FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
  WHERE tok <> ''
  GROUP BY doc_id, tok
)
SELECT d.source,
       sum(p._n)::BIGINT AS n_words,
       sum(p._n * len(v._sym))::BIGINT AS n_tokens,
       round(sum(p._n * len(v._sym)) * 1.0 / sum(p._n), 6)
         AS fertility
FROM documents d
JOIN perdoc p ON p.doc_id = d.doc_id
JOIN v{n_merges} v ON v.tok = p.tok
GROUP BY d.source
"""
    )


@q("tokenizer_fertility_by_source", _fertility_sql(10))
def tokenizer_fertility_by_source_q(spark, sf_dir):
    """Tokenizer fertility (BPE tokens per whitespace word) per
    source - the datasheet row a tokenizer owner reads before
    committing a vocab: a source whose fertility is far above the
    corpus mean is paying more sequence budget per word than its
    mixture weight assumes. Reuses the session-cached trained merges
    (_trained_merges) and the vocab-amortized encoder, so the only
    work beyond bpe_token_counts is a source join + one
    dimension-sized aggregate; sources with zero nonempty words drop
    out (inner-join semantics, mirrored by the n_words > 0 guard)."""
    from ..operators.textstats import bpe_encode_counts

    docs = read_table(spark, sf_dir, "documents")
    merges = _trained_merges(spark, sf_dir, n_merges=10)
    perdoc = bpe_encode_counts(docs, merges)
    return (
        perdoc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_bpe_tokens").cast("long").alias("n_tokens"),
            F.round(
                F.sum("n_bpe_tokens") / F.sum("n_words"), 6
            ).alias("fertility"),
        )
        .where(F.col("n_words") > 0)
    )
