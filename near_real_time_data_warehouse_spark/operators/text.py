"""Text-analysis operators over the ``documents`` table.

Large-scale training-data-pipeline surface (BASELINE.json north star):
token counting (whitespace + BPE-ish regex), quality scoring,
language-ID (stopword heuristic), and document fingerprinting. All are
single-pass, JVM-side Catalyst expressions — no Python UDFs — so they
scan-and-project at full codegen speed and scale linearly with input
splits (no shuffle except the final aggregation where present).

Each operator has a DuckDB oracle twin registered alongside; outputs are
integers, strings, or single-division doubles so hashes match bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import memo
from ..sources.testdata import load_table_parallel
from . import registry

# Shared normalization: lowercase, collapse whitespace, trim.
_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' '))"


def _norm_col() -> F.Column:
    return F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table_parallel(spark, sf_dir, "documents")


# BPE-ish pre-tokenizer: letter runs, single digits, single punctuation.
_BPE_RE = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]"


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts: whitespace tokens, BPE-ish pieces, chars."""
    d = _docs(spark, sf_dir)
    norm = _norm_col()
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.when(F.length(norm) == 0, F.lit(0))
        .otherwise(F.size(F.split(norm, " ")))
        .cast("long")
        .alias("n_tokens"),
        F.regexp_count(norm, F.lit(_BPE_RE)).cast("long").alias("n_bpe_tokens"),
    )


TOKEN_STATS_SQL = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(CASE WHEN length({_NORM_SQL}) = 0 THEN 0
                 ELSE len(string_split({_NORM_SQL}, ' ')) END AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all({_NORM_SQL}, '{_BPE_RE}')) AS BIGINT) AS n_bpe_tokens
FROM documents
"""

_STOPWORDS = "the|a|and|of|to|in|is"


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality features + composite score per document:
    mean token length, stopword ratio, alpha-char ratio. The composite is
    a fixed-order linear blend — deterministic IEEE arithmetic."""
    d = _docs(spark, sf_dir)
    norm = _norm_col()
    n_tokens = F.when(F.length(norm) == 0, F.lit(0)).otherwise(F.size(F.split(norm, " "))).cast("long")
    n_chars = F.length(norm).cast("long")
    n_alpha = F.length(F.regexp_replace(norm, "[^a-z]", "")).cast("long")
    n_stop = F.regexp_count(norm, F.lit(rf"\b({_STOPWORDS})\b")).cast("long")
    feats = d.select(
        "doc_id",
        n_chars.alias("n_chars_norm"),
        n_tokens.alias("n_tokens"),
        n_alpha.alias("n_alpha"),
        n_stop.alias("n_stopwords"),
    )
    nt = F.col("n_tokens")
    safe_nt = F.when(nt == 0, F.lit(1)).otherwise(nt)
    mean_tok = F.col("n_alpha") / safe_nt
    stop_ratio = F.col("n_stopwords") / safe_nt
    alpha_ratio = F.col("n_alpha") / F.when(F.col("n_chars_norm") == 0, F.lit(1)).otherwise(F.col("n_chars_norm"))
    return feats.select(
        "doc_id",
        "n_tokens",
        "n_stopwords",
        mean_tok.alias("mean_token_len"),
        stop_ratio.alias("stopword_ratio"),
        alpha_ratio.alias("alpha_ratio"),
    )


QUALITY_SQL = f"""
WITH feats AS (
  SELECT doc_id,
         CAST(length({_NORM_SQL}) AS BIGINT) AS n_chars_norm,
         CAST(CASE WHEN length({_NORM_SQL}) = 0 THEN 0
                   ELSE len(string_split({_NORM_SQL}, ' ')) END AS BIGINT) AS n_tokens,
         CAST(length(regexp_replace({_NORM_SQL}, '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
         CAST(len(regexp_extract_all({_NORM_SQL}, '\\b({_STOPWORDS})\\b')) AS BIGINT) AS n_stopwords
  FROM documents
)
SELECT doc_id, n_tokens, n_stopwords,
       n_alpha / CASE WHEN n_tokens = 0 THEN 1 ELSE n_tokens END AS mean_token_len,
       n_stopwords / CASE WHEN n_tokens = 0 THEN 1 ELSE n_tokens END AS stopword_ratio,
       n_alpha / CASE WHEN n_chars_norm = 0 THEN 1 ELSE n_chars_norm END AS alpha_ratio
FROM feats
"""

# Language-ID stopword sets; CJK detected by literal char-range.
_LANG_PATTERNS = {
    "en": r"\b(the|and|of|to|is|was|with)\b",
    "de": r"\b(der|die|das|und|ist|nicht|ein)\b",
    "es": r"\b(el|los|las|y|es|una|que)\b",
    "fr": r"\b(le|les|et|est|une|dans|pour)\b",
}
_CJK_RANGE = "[一-鿿]"


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword language heuristic: per-language match counts with a
    deterministic argmax (CJK presence wins; then en ≥ de ≥ es ≥ fr).

    NB: the driver's synthetic corpus labels `lang` randomly over
    English-ish word soup, so label agreement is not meaningful there;
    classifier quality is asserted on a real multilingual fixture in
    tests/test_text_quality.py via :func:`lang_id_df`."""
    return lang_id_df(_docs(spark, sf_dir))


def lang_id_df(d: DataFrame) -> DataFrame:
    """The classifier core over any (doc_id, lang, text) DataFrame."""
    norm = _norm_col()
    counts = {k: F.regexp_count(norm, F.lit(p)).cast("long") for k, p in _LANG_PATTERNS.items()}
    cjk = F.regexp_count(F.col("text"), F.lit(_CJK_RANGE)).cast("long")
    en, de, es, fr = counts["en"], counts["de"], counts["es"], counts["fr"]
    pred = (
        F.when(cjk > 0, "zh")
        .when((en >= de) & (en >= es) & (en >= fr), "en")
        .when((de >= es) & (de >= fr), "de")
        .when(es >= fr, "es")
        .otherwise("fr")
    )
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        en.alias("c_en"),
        de.alias("c_de"),
        es.alias("c_es"),
        fr.alias("c_fr"),
        cjk.alias("c_cjk"),
        pred.alias("predicted_lang"),
    )


_LANG_COUNT_SQL = ",\n       ".join(
    f"CAST(len(regexp_extract_all({_NORM_SQL}, '{p}')) AS BIGINT) AS c_{k}"
    for k, p in _LANG_PATTERNS.items()
)

LANG_ID_SQL = f"""
WITH c AS (
  SELECT doc_id, lang AS labeled_lang,
       {_LANG_COUNT_SQL},
       CAST(len(regexp_extract_all(text, '{_CJK_RANGE}')) AS BIGINT) AS c_cjk
  FROM documents
)
SELECT doc_id, labeled_lang, c_en, c_de, c_es, c_fr, c_cjk,
       CASE WHEN c_cjk > 0 THEN 'zh'
            WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr THEN 'en'
            WHEN c_de >= c_es AND c_de >= c_fr THEN 'de'
            WHEN c_es >= c_fr THEN 'es'
            ELSE 'fr' END AS predicted_lang
FROM c
"""


def stopword_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stopword ratios: each language's stopword-match count
    normalized by the doc's token count (single bigint/bigint division —
    bit-exact across engines), plus the ratio-argmax language. Unlike
    ``lang_id``'s raw-count argmax, ratios are comparable across documents
    of different lengths — the form a quality-filter threshold wants.
    Same single-pass scan-and-project shape as the other text ops."""
    d = _docs(spark, sf_dir)
    norm = _norm_col()
    n_tokens = (
        F.when(F.length(norm) == 0, F.lit(0)).otherwise(F.size(F.split(norm, " "))).cast("long")
    )
    safe_nt = F.when(n_tokens == 0, F.lit(1)).otherwise(n_tokens)
    ratios = {
        k: (F.regexp_count(norm, F.lit(p)).cast("long") / safe_nt)
        for k, p in _LANG_PATTERNS.items()
    }
    en, de, es, fr = ratios["en"], ratios["de"], ratios["es"], ratios["fr"]
    best = (
        F.when((en >= de) & (en >= es) & (en >= fr), "en")
        .when((de >= es) & (de >= fr), "de")
        .when(es >= fr, "es")
        .otherwise("fr")
    )
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        en.alias("r_en"),
        de.alias("r_de"),
        es.alias("r_es"),
        fr.alias("r_fr"),
        best.alias("best_lang"),
    )


_RATIO_SQL = ",\n       ".join(
    f"CAST(len(regexp_extract_all({_NORM_SQL}, '{p}')) AS BIGINT)"
    f" / CASE WHEN n_tokens = 0 THEN 1 ELSE n_tokens END AS r_{k}"
    for k, p in _LANG_PATTERNS.items()
)

STOPWORD_RATIOS_SQL = f"""
WITH t AS (
  SELECT doc_id, text,
         CAST(CASE WHEN length({_NORM_SQL}) = 0 THEN 0
                   ELSE len(string_split({_NORM_SQL}, ' ')) END AS BIGINT) AS n_tokens
  FROM documents
), r AS (
  SELECT doc_id, n_tokens,
       {_RATIO_SQL}
  FROM t
)
SELECT doc_id, n_tokens, r_en, r_de, r_es, r_fr,
       CASE WHEN r_en >= r_de AND r_en >= r_es AND r_en >= r_fr THEN 'en'
            WHEN r_de >= r_es AND r_de >= r_fr THEN 'de'
            WHEN r_es >= r_fr THEN 'es'
            ELSE 'fr' END AS best_lang
FROM r
"""


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher/C4 filter family):
    duplicate-token fraction, most-frequent-token mass, and
    most-frequent-bigram mass per document. High values mark boilerplate
    and degenerate pages that perplexity-free pipelines drop before
    training.

    Shape at scale: the distinct-token count is a pure array expression
    (``array_distinct`` — zero shuffle); the two mode counts explode to
    (doc_id, gram) and aggregate twice keyed by doc_id — fully parallel,
    map-side combinable, never a global structure. Only MAX(count) is
    returned (no token string), so ties cannot make output
    nondeterministic."""
    d = _docs(spark, sf_dir).select("doc_id", F.split(_norm_col(), " ").alias("toks"))
    stats = d.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct_tokens"),
    )
    uni = (
        d.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").cast("long").alias("top_token_count"))
    )
    bigrams = F.expr(
        "zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1),"
        " (a, b) -> concat(a, ' ', b))"
    )
    big = (
        d.select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").cast("long").alias("top_bigram_count"))
    )
    return (
        stats.join(uni, "doc_id", "left")
        .join(big, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct_tokens",
            ((F.col("n_tokens") - F.col("n_distinct_tokens")) / F.col("n_tokens")).alias(
                "dup_token_frac"
            ),
            "top_token_count",
            (F.col("top_token_count") / F.col("n_tokens")).alias("top_token_frac"),
            "top_bigram_count",
            (F.col("top_bigram_count") / (F.col("n_tokens") - 1)).alias("top_bigram_frac"),
        )
    )


REPETITION_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents
),
stats AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens
  FROM t
),
uni AS (
  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_token_count FROM (
    SELECT doc_id, tok, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
    GROUP BY doc_id, tok
  ) GROUP BY doc_id
),
bgidx AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM t
),
big AS (
  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_bigram_count FROM (
    SELECT doc_id, bigram, COUNT(*) AS c
    FROM (SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bigram FROM bgidx)
    GROUP BY doc_id, bigram
  ) GROUP BY doc_id
)
SELECT s.doc_id, s.n_tokens, s.n_distinct_tokens,
       (s.n_tokens - s.n_distinct_tokens) / s.n_tokens AS dup_token_frac,
       u.top_token_count,
       u.top_token_count / s.n_tokens AS top_token_frac,
       b.top_bigram_count,
       b.top_bigram_count / (s.n_tokens - 1) AS top_bigram_frac
FROM stats s
LEFT JOIN uni u ON s.doc_id = u.doc_id
LEFT JOIN big b ON s.doc_id = b.doc_id
"""


# PII patterns (valid in both Java regex and DuckDB's RE2): email,
# NANP-ish 555 phone, dotted-quad IP. Redaction order matters (emails
# contain dots/digits) and is fixed: email → phone → ip.
_PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_PHONE = r"\b555-[0-9]{4}\b"
_PII_IP = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"

# The synthetic corpus is PII-free word soup, so the driver entry
# deterministically injects per-doc PII *inside the query* (same
# expression in the oracle) — the scan/redact kernel is then exercised
# on every row instead of vacuously matching nothing. Real pipelines
# run the same scan/redact over the raw text column.
_PII_AUG_SPARK = (
    "concat(text, ' contact user', doc_id, '@example.com or call 555-',"
    " lpad(cast(doc_id % 10000 as string), 4, '0'),"
    " ' from 10.', doc_id % 256, '.0.', (doc_id * 7) % 256)"
)
_PII_AUG_SQL = (
    "text || ' contact user' || doc_id || '@example.com or call 555-'"
    " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || ' from 10.' || (doc_id % 256) || '.0.' || ((doc_id * 7) % 256)"
)


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan + redaction — the compliance pass every training-data
    pipeline runs before export: count emails / phone numbers / IPs per
    document and emit the text with each replaced by a typed placeholder.

    Shape at scale: a fixed chain of regexp_count/regexp_replace —
    JVM codegen expressions, scan-local projection, zero shuffle, zero
    Python. The patterns are RE2-safe (no backtracking blowup), so cost
    is linear in text size at any corpus scale."""
    return pii_redact_df(_docs(spark, sf_dir), F.expr(_PII_AUG_SPARK))


def pii_redact_df(d: DataFrame, text: F.Column) -> DataFrame:
    """The scan/redact core over any (doc_id, …) frame and text column."""
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, _PII_EMAIL, "[EMAIL]"), _PII_PHONE, "[PHONE]"
        ),
        _PII_IP,
        "[IP]",
    )
    n_emails = F.regexp_count(text, F.lit(_PII_EMAIL)).cast("long")
    n_phones = F.regexp_count(text, F.lit(_PII_PHONE)).cast("long")
    n_ips = F.regexp_count(text, F.lit(_PII_IP)).cast("long")
    return d.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        n_ips.alias("n_ips"),
        ((n_emails + n_phones + n_ips) > 0).alias("has_pii"),
        redacted.alias("redacted_text"),
    )


PII_REDACT_SQL = f"""
WITH a AS (SELECT doc_id, {_PII_AUG_SQL} AS aug FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(aug, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(aug, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(aug, '{_PII_IP}')) AS BIGINT) AS n_ips,
       (len(regexp_extract_all(aug, '{_PII_EMAIL}'))
        + len(regexp_extract_all(aug, '{_PII_PHONE}'))
        + len(regexp_extract_all(aug, '{_PII_IP}'))) > 0 AS has_pii,
       regexp_replace(regexp_replace(regexp_replace(
         aug, '{_PII_EMAIL}', '[EMAIL]', 'g'),
         '{_PII_PHONE}', '[PHONE]', 'g'),
         '{_PII_IP}', '[IP]', 'g') AS redacted_text
FROM a
"""

# Vocabulary: top-K tokens by corpus frequency, K fixed so the result
# is a driver-comparable table; ties break on the token string.
VOCAB_TOP_K = 100


def vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary building: corpus-level token statistics —
    total occurrences and document frequency per token, top-K by count.
    The first step of training a tokenizer (or an IDF table) over a
    corpus.

    Shape at scale: explode → two-phase aggregation keyed by token
    (partial counts map-side), document frequency via distinct
    (token, doc_id) pairs — also token-keyed — then TakeOrderedAndProject
    for the top-K. No global sort, no driver-side collection; the token
    key space is Zipf-skewed but counts are monoid partials, so AQE's
    skew handling and map-side combine absorb the hot keys."""
    d = _docs(spark, sf_dir).select("doc_id", F.split(_norm_col(), " ").alias("toks"))
    tok = d.select("doc_id", F.explode("toks").alias("token"))
    tf = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n_occurrences"))
    df_ = (
        tok.distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return (
        tf.join(df_, "token")
        .select(
            "token",
            F.col("n_occurrences").cast("long").alias("n_occurrences"),
            F.col("n_docs").cast("long").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "token")
        .limit(VOCAB_TOP_K)
    )


VOCABULARY_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS token FROM documents
),
tf AS (SELECT token, COUNT(*) AS n_occurrences FROM tok GROUP BY token),
df AS (
  SELECT token, COUNT(*) AS n_docs
  FROM (SELECT DISTINCT token, doc_id FROM tok) GROUP BY token
)
SELECT tf.token, CAST(tf.n_occurrences AS BIGINT) AS n_occurrences,
       CAST(df.n_docs AS BIGINT) AS n_docs
FROM tf JOIN df ON tf.token = df.token
ORDER BY n_occurrences DESC, tf.token
LIMIT {VOCAB_TOP_K}
"""


def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: md5 over whitespace-normalized lowercase text —
    the key for exact dedup and shard-stable sampling."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.md5(_norm_col()).alias("fingerprint"),
    )


FINGERPRINT_SQL = f"SELECT doc_id, md5({_NORM_SQL}) AS fingerprint FROM documents"


def shard_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-stable train/val/test split: bucket = content-fingerprint
    bigint mod 10 → train (0-7) / val (8) / test (9). Content-keyed, so
    the assignment survives re-ingestion, re-partitioning, and engine
    changes — the property random() splits lack — and exact duplicates
    always land in the same split (no train/test leakage through dups).
    Pure hash arithmetic: embarrassingly parallel at any scale."""
    bucket = F.pmod(
        F.conv(F.substring(F.md5(_norm_col()), 1, 15), 16, 10).cast("long"), F.lit(10)
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket <= 7, "train").when(bucket == 8, "val").otherwise("test").alias("split"),
    )


SHARD_SPLIT_SQL = f"""
WITH b AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5({_NORM_SQL}), 1, 15)) AS BIGINT) % 10 AS bucket
  FROM documents
)
SELECT doc_id, bucket,
       CASE WHEN bucket <= 7 THEN 'train' WHEN bucket = 8 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""



def _bits(col: F.Column) -> F.Column:
    """Floor-log2 + 1 as binary-representation length — the exact-integer
    primitive behind every LM/TF-IDF score here: identical in Spark
    (length(conv(x,10,2))) and DuckDB (len(printf('%b', x)))."""
    return F.length(F.conv(col, 10, 2)).cast("long")


def unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score in EXACT INTEGER arithmetic —
    the trick that unblocks cross-engine LM scoring (float ln/log2 is
    not bit-portable; NEXT.md round-2/3 blocker): token surprisal
    −log2 P(t) = log2(N/c_t) is approximated by
    ``_bits(N) − _bits(c_t)`` where ``_bits(x) = len(binary(x))`` — the
    floor-log2 difference, within ±1 bit of the true value and exactly
    equal in Spark (`length(conv(x,10,2))`) and DuckDB
    (`len(printf('%b', x))`). Per document: token count, total
    surprisal bits (pure BIGINT — hash-exact), and the mean as ONE
    IEEE division (the established avg rule). High mean surprisal =
    rare-token-heavy text (boilerplate/garbage); low = fluent common
    prose — the unigram half of a Gopher-style LM quality filter.

    Scale shape: one corpus token scan, a vocab-sized count aggregate
    joined back on token (shuffle ∝ token instances — the standard LM
    scoring join), one 1-row broadcast for N. No floats until the
    final division, no Python anywhere."""
    d = _docs(spark, sf_dir)
    norm = _norm_col()
    toks = (
        d.select("doc_id", F.explode(F.split(norm, " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))

    scored = (
        toks.join(counts, "tok")
        .crossJoin(F.broadcast(total))
        .withColumn("surprisal", _bits(F.col("n_total")) - _bits(F.col("c")))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("surprisal").alias("total_surprisal_bits"),
        (F.sum("surprisal") / F.count(F.lit(1))).alias("mean_surprisal_bits"),
    )


UNIGRAM_SURPRISAL_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM documents
),
t AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
c AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY tok),
n AS (SELECT COUNT(*) AS n_total FROM t)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(len(printf('%b', n_total)) - len(printf('%b', c.c))) AS BIGINT)
         AS total_surprisal_bits,
       CAST(CAST(SUM(len(printf('%b', n_total)) - len(printf('%b', c.c))) AS BIGINT)
            AS DOUBLE) / COUNT(*) AS mean_surprisal_bits
FROM t JOIN c USING (tok), n
GROUP BY doc_id
"""


# Bigram LM (stupid backoff): bigrams seen fewer than this many times in
# the corpus back off to the unigram model with a fixed integer penalty.
BIGRAM_MIN_COUNT = 2
BACKOFF_PENALTY_BITS = 1  # ≈ -log2(0.5) — stupid backoff α=0.5, kept integer


def bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality score with stupid backoff, in EXACT
    INTEGER arithmetic — the bigram extension of text_unigram_surprisal's
    floor-log2 trick (``_bits(x) = len(binary(x))``; NEXT.md round-3
    candidate). Per token instance:

    - doc-initial token (no predecessor): unigram surprisal
      ``_bits(N) − _bits(c1(t))``;
    - corpus bigram count ≥ BIGRAM_MIN_COUNT: conditional surprisal
      ``_bits(cctx(prev)) − _bits(c2(prev,t))`` where cctx(prev) is the
      number of bigram instances starting with prev;
    - rare bigram (hapax): stupid backoff — BACKOFF_PENALTY_BITS + the
      unigram surprisal.

    Per document: token count, backoff-token count (the fluency signal —
    garbage text is hapax-bigram-heavy), total surprisal bits (pure
    BIGINT, hash-exact), and the mean as ONE IEEE division.

    Scale shape: tokenization shuffles once on doc_id for the lag window
    (docs are the natural unit; skew bounded by max doc length), the
    count tables are map-side-combinable aggregates ∝ distinct
    unigrams/bigrams, and scoring is the standard LM join of token
    instances against broadcast-or-shuffled count tables — cost ∝ corpus
    tokens, the unavoidable LM-scoring floor. No floats until the final
    division, no Python anywhere."""
    return bigram_surprisal_df(_docs(spark, sf_dir))


def _adjacent_bigrams(tcol: F.Column) -> F.Column:
    """array<string> of adjacent "a b" bigrams — zip_with over two
    slices, NOT element_at over an index sequence.  Each slice
    references the token ARRAY a constant number of times per row; a
    per-element element_at lambda re-evaluates the array's defining
    expression at every access once Catalyst collapses the projection —
    the projection form of the NEXT.md r9 #15 filter trap.  Measured at
    the 100× probe: 212.5 → 15.5 s (13.7×) for the DSIR feature
    explode, bit-identical output.  Empty when size < 2 (slice with a
    negative length errors, so the guard stays)."""
    n1 = F.size(tcol) - 1
    return F.when(
        F.size(tcol) >= 2,
        F.zip_with(
            F.slice(tcol, 1, n1),
            F.slice(tcol, 2, n1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def bigram_surprisal_df(d: DataFrame) -> DataFrame:
    """Kernel of text_bigram_surprisal over any (doc_id, text) DataFrame.

    Plan shape: adjacent pairs are extracted ARRAY-SIDE (zip of
    toks[i], toks[i+1] inside the row) — no lag window, so no doc_id
    sort-shuffle; the exploded pair stream goes straight into per-doc
    (prev, tok) count compaction (map-side combinable, the plan's only
    token-instance pass). Every corpus count table (c2, cctx, c1, N) is
    then derived from the compacted pair/initial tables (each token
    instance is either doc-initial or the second element of exactly one
    bigram), and the per-(prev, tok) surprisal is precomputed on the
    bigram-vocabulary table, so the only remaining joins are
    pair-table-sized — never a second pass over token instances. (First
    cut lag-windowed the instance stream and joined it against
    c1/c2/cctx separately: 3× unigram's bench time.)"""
    toks_arr = F.filter(F.split(_norm_col(), " "), lambda t: t != "")
    # Repartition DOC-LEVEL rows (one token array per row) by doc_id: the
    # cheapest possible exchange (∝ corpus bytes, no per-token rows, no
    # sort), after which every per-doc aggregation below reuses the
    # partitioning and the exploded pair stream is never shuffled.
    base = (
        d.select("doc_id", toks_arr.alias("toks"))
        .filter(F.size("toks") > 0)
        .repartition("doc_id")
    )
    # Adjacent-pair extraction ARRAY-SIDE (zip of toks[i], toks[i+1]) —
    # no lag window, so no doc_id sort-shuffle: the first aggregation
    # below is the plan's only pass over token instances.
    pair_arr = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.struct(
            F.element_at("toks", i).alias("prev"),
            F.element_at("toks", i + 1).alias("tok"),
        ),
    )
    # Per-doc compaction: d2 = bigram instances, d1 = doc-initial tokens.
    d2 = (
        base.filter(F.size("toks") > 1)
        .select("doc_id", F.explode(pair_arr).alias("p"))
        .groupBy("doc_id", F.col("p.prev").alias("prev"), F.col("p.tok").alias("tok"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    d1 = (
        base.select("doc_id", F.element_at("toks", 1).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # Corpus count tables, all derived from the compacted tables.
    c2 = d2.groupBy("prev", "tok").agg(F.sum("n").alias("c2"))
    cctx = c2.groupBy("prev").agg(F.sum("c2").alias("cctx"))
    c1 = (
        d2.select("tok", "n")
        .unionByName(d1.select("tok", "n"))
        .groupBy("tok")
        .agg(F.sum("n").alias("c1"))
    )
    total = c1.agg(F.sum("c1").alias("n_total"))

    uni = _bits(F.col("n_total")) - _bits(F.col("c1"))
    # Score tables: one row per distinct bigram / distinct initial token.
    st2 = (
        c2.join(cctx, "prev")
        .join(c1, "tok")
        .crossJoin(F.broadcast(total))
        .select(
            "prev",
            "tok",
            F.when(
                F.col("c2") >= BIGRAM_MIN_COUNT, _bits(F.col("cctx")) - _bits(F.col("c2"))
            )
            .otherwise(F.lit(BACKOFF_PENALTY_BITS) + uni)
            .alias("surprisal"),
            (F.col("c2") < BIGRAM_MIN_COUNT).cast("long").alias("is_backoff"),
        )
    )
    st1 = c1.crossJoin(F.broadcast(total)).select(
        "tok", uni.alias("surprisal"), F.lit(0).cast("long").alias("is_backoff")
    )
    contrib = d2.join(st2, ["prev", "tok"]).select(
        "doc_id", "n", "surprisal", "is_backoff"
    ).unionByName(
        d1.join(st1, "tok").select("doc_id", "n", "surprisal", "is_backoff")
    )
    return contrib.groupBy("doc_id").agg(
        F.sum("n").alias("n_tokens"),
        F.sum(F.col("n") * F.col("is_backoff")).alias("n_backoff_tokens"),
        F.sum(F.col("n") * F.col("surprisal")).alias("total_surprisal_bits"),
        (
            F.sum(F.col("n") * F.col("surprisal")) / F.sum("n")
        ).alias("mean_surprisal_bits"),
    )


BIGRAM_SURPRISAL_SQL = f"""
WITH d AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents),
t0 AS (
  SELECT doc_id, generate_subscripts(toks, 1) AS pos, unnest(toks) AS tok FROM d
),
t AS (SELECT doc_id, pos, tok FROM t0 WHERE tok <> ''),
b AS (
  SELECT doc_id, pos, tok,
         lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM t
),
c1 AS (SELECT tok, COUNT(*) AS c1 FROM t GROUP BY tok),
c2 AS (SELECT prev, tok, COUNT(*) AS c2 FROM b WHERE prev IS NOT NULL GROUP BY prev, tok),
cctx AS (SELECT prev, COUNT(*) AS cctx FROM b WHERE prev IS NOT NULL GROUP BY prev),
n AS (SELECT COUNT(*) AS n_total FROM t),
s AS (
  SELECT b.doc_id,
         CASE WHEN b.prev IS NULL
                THEN len(printf('%b', n.n_total)) - len(printf('%b', c1.c1))
              WHEN c2.c2 >= {BIGRAM_MIN_COUNT}
                THEN len(printf('%b', cctx.cctx)) - len(printf('%b', c2.c2))
              ELSE {BACKOFF_PENALTY_BITS}
                   + len(printf('%b', n.n_total)) - len(printf('%b', c1.c1))
         END AS sbits,
         CASE WHEN b.prev IS NOT NULL AND c2.c2 < {BIGRAM_MIN_COUNT}
              THEN 1 ELSE 0 END AS backoff
  FROM b
  JOIN c1 ON b.tok = c1.tok
  LEFT JOIN c2 ON b.prev = c2.prev AND b.tok = c2.tok
  LEFT JOIN cctx ON b.prev = cctx.prev
  CROSS JOIN n
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(backoff) AS BIGINT) AS n_backoff_tokens,
       CAST(SUM(sbits) AS BIGINT) AS total_surprisal_bits,
       CAST(CAST(SUM(sbits) AS BIGINT) AS DOUBLE) / COUNT(*) AS mean_surprisal_bits
FROM s GROUP BY doc_id
"""


TFIDF_TOP_K = 5


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-K distinguishing terms by TF-IDF, in EXACT INTEGER
    arithmetic: idf_bits = _bits(n_docs) − _bits(df(t)) (the floor-log2
    difference — within ±1 bit of ⌈log2(N/df)⌉ and identical in Spark and
    DuckDB), score = tf · idf_bits. The keyword-extraction primitive for
    corpus topical analysis and near-dup explainability — every column is
    an integer or string, so the driver hash is exact by construction.

    Scale shape: one explode pass; df is a distinct (token, doc) count
    keyed by token (map-side-combinable); the scoring join is token-keyed
    ∝ distinct (doc, token) pairs; top-K per doc is a bounded window over
    doc_id partitions (≤ doc vocabulary each — never a global sort)."""
    d = _docs(spark, sf_dir)
    toks = (
        d.select("doc_id", F.explode(F.split(_norm_col(), " ")).alias("term"))
        .filter(F.col("term") != "")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))

    from pyspark.sql import Window

    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("idf_bits", _bits(F.col("n_docs")) - _bits(F.col("df")))
        .withColumn("score_bits", F.col("tf") * F.col("idf_bits"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_bits"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "rank", "term", "tf", F.col("df").cast("long").alias("df"),
                "idf_bits", "score_bits")
    )


TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS term FROM documents
),
t AS (SELECT doc_id, term FROM toks WHERE term <> ''),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
s AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         len(printf('%b', n.n_docs)) - len(printf('%b', df.df)) AS idf_bits,
         tf.tf * (len(printf('%b', n.n_docs)) - len(printf('%b', df.df))) AS score_bits
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
),
r AS (
  SELECT doc_id,
         CAST(row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score_bits DESC, term) AS BIGINT) AS rank,
         term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
         CAST(idf_bits AS BIGINT) AS idf_bits, CAST(score_bits AS BIGINT) AS score_bits
  FROM s
)
SELECT doc_id, rank, term, tf, df, idf_bits, score_bits
FROM r WHERE rank <= {TFIDF_TOP_K}
"""


registry.register("text_shard_split", shard_split, SHARD_SPLIT_SQL)
registry.register("text_bigram_surprisal", bigram_surprisal, BIGRAM_SURPRISAL_SQL)
BPE_TOP_K = 20


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer training, step 2 (after text_vocabulary's word counts):
    the first BPE merge round — count adjacent character pairs across
    the corpus, weighted by word frequency, and surface the top merge
    candidates. Iterating this (merge the top pair, re-count) IS BPE
    training; one round exposes the whole distributed kernel.

    Scale shape: pair counting runs on the WORD-FREQUENCY table, not the
    token stream — the corpus's billions of token instances compact to a
    vocabulary of distinct words first (map-side-combinable count), and
    the char-pair explode touches each distinct word once, weighted by
    its count. Adjacent pairs are extracted array-side (the bigram
    pattern); top-K is TakeOrderedAndProject. All integers and
    single-char strings — hash-exact."""
    toks = (
        _docs(spark, sf_dir)
        .select(F.explode(F.split(_norm_col(), " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    # sequence(1, L-1) ONLY when L > 1: Spark's sequence(1, 0) counts
    # DOWN ([1, 0]), it is not empty.
    pair_arr = F.when(
        F.length("tok") > 1,
        F.transform(
            F.sequence(F.lit(1), F.length("tok") - 1),
            lambda i: F.struct(
                F.col("tok").substr(i, F.lit(1)).alias("left_sym"),
                F.col("tok").substr(i + 1, F.lit(1)).alias("right_sym"),
            ),
        ),
    ).otherwise(F.array())
    pairs = vocab.select("freq", F.explode(pair_arr).alias("p"))
    return (
        pairs.groupBy(
            F.col("p.left_sym").alias("left_sym"),
            F.col("p.right_sym").alias("right_sym"),
        )
        .agg(F.sum("freq").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "left_sym", "right_sym")
        .limit(BPE_TOP_K)
    )


BPE_PAIRS_SQL = f"""
WITH toks AS (
  SELECT unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM documents
),
t AS (SELECT tok FROM toks WHERE tok <> ''),
vocab AS (SELECT tok, COUNT(*) AS freq FROM t GROUP BY tok),
p AS (
  SELECT tok, freq, unnest(generate_series(1, length(tok) - 1)) AS i
  FROM vocab WHERE length(tok) > 1
),
pairs AS (
  SELECT substr(tok, i, 1) AS left_sym, substr(tok, i + 1, 1) AS right_sym, freq
  FROM p
)
SELECT left_sym, right_sym, CAST(SUM(freq) AS BIGINT) AS n_occurrences
FROM pairs
GROUP BY left_sym, right_sym
ORDER BY n_occurrences DESC, left_sym, right_sym
LIMIT {BPE_TOP_K}
"""


# --- Iterated BPE training ------------------------------------------------
# The NEXT.md composition demo made real: text_bpe_pair_counts is ONE
# merge round; this runs BPE_MERGE_ROUNDS of the actual training loop —
# pick the most frequent adjacent symbol pair, rewrite every vocabulary
# word by greedily merging its non-overlapping occurrences, re-count.
# The portability insight: greedy left-to-right non-overlapping merge is
# NOT a fold — it is three window functions (match → overlap-run start
# via a running MAX → every-other selection within the run), identical
# in Spark and DuckDB, so the whole iterated rewrite replays as chained
# CTEs and the driver hash certifies all rounds end-to-end.

# 10 real merge rounds (VERDICT r4 #4: 3 certified the machinery; a
# tokenizer pass needs depth). The DuckDB twin chains one CTE block per
# round with sym{k} pinned AS MATERIALIZED — each level is referenced
# twice (next round's count + rewrite), so inlining would re-evaluate
# the whole prefix 2^k times.
BPE_MERGE_ROUNDS = 10


def _split_bucket_col() -> F.Column:
    """shard_split's content-keyed bucket (0-9) as a reusable expression:
    train = 0-7, val = 8, test = 9."""
    return F.pmod(
        F.conv(F.substring(F.md5(_norm_col()), 1, 15), 16, 10).cast("long"),
        F.lit(10),
    )


def _bpe_initial_symbols(
    spark: SparkSession, sf_dir: str, train_only: bool = False
) -> DataFrame:
    """(tok, freq, pos, sym): every distinct word exploded to single-char
    symbols — the compacted-vocabulary representation (corpus token
    instances ride along as freq, the bpe_pair_counts scale shape).
    ``train_only`` restricts the corpus to shard_split's train buckets —
    the held-out-encode entry trains on those alone."""
    d = _docs(spark, sf_dir)
    if train_only:
        d = d.filter(_split_bucket_col() <= 7)
    toks = (
        d.select(F.explode(F.split(_norm_col(), " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    chars = F.transform(
        F.sequence(F.lit(1), F.length("tok")),
        lambda i: F.col("tok").substr(i, F.lit(1)),
    )
    return vocab.select(
        "tok", "freq", F.posexplode(chars).alias("pos0", "sym")
    ).select("tok", "freq", (F.col("pos0") + 1).alias("pos"), "sym")


def _bpe_apply_merge(sym_df: DataFrame, left: str, right: str) -> DataFrame:
    """Greedy left-to-right non-overlapping application of ONE merge rule
    to a (tok, freq, pos, sym) symbol table — the shared rewrite kernel
    of training (_bpe_merge_round, pair = the round's argmax) and of
    applying a trained tokenizer to unseen words (bpe_encode_holdout,
    pair = the stored rank-k rule)."""
    from pyspark.sql import Window

    w = Window.partitionBy("tok").orderBy("pos")
    d = (
        sym_df.withColumn("nxt", F.lead("sym").over(w))
        .withColumn("idx", F.row_number().over(w))
        .withColumn(
            "match",
            F.coalesce(
                (F.col("sym") == left) & (F.col("nxt") == right), F.lit(False)
            ),
        )
        .withColumn(
            "prev_match", F.coalesce(F.lag("match").over(w), F.lit(False))
        )
    )
    # Overlapping matches (only possible when left == right) form runs of
    # consecutive idx; greedy takes every other one starting at the run
    # head. run_start is a running MAX of the most recent run-head idx.
    d = d.withColumn(
        "run_start",
        F.max(
            F.when(F.col("match") & ~F.col("prev_match"), F.col("idx"))
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    ).withColumn(
        "selected",
        F.col("match") & ((F.col("idx") - F.col("run_start")) % 2 == 0),
    )
    return (
        d.withColumn(
            "dropped", F.coalesce(F.lag("selected").over(w), F.lit(False))
        )
        .filter(~F.col("dropped"))
        .select(
            "tok",
            "freq",
            "pos",
            F.when(F.col("selected"), F.lit(left + right))
            .otherwise(F.col("sym"))
            .alias("sym"),
        )
    )


def _bpe_merge_round(sym_df: DataFrame) -> tuple[DataFrame, str, str, int]:
    """One BPE round: returns (rewritten symbols, left, right, count)."""
    from pyspark.sql import Window

    w = Window.partitionBy("tok").orderBy("pos")
    with_next = sym_df.withColumn("nxt", F.lead("sym").over(w))
    counts = (
        with_next.filter(F.col("nxt").isNotNull())
        .groupBy("sym", "nxt")
        .agg(F.sum("freq").alias("cnt"))
    )
    best = counts.orderBy(F.desc("cnt"), "sym", "nxt").first()
    if best is None:
        raise ValueError(
            "BPE merge round found no adjacent symbol pairs — the "
            "vocabulary is empty or all words are single symbols"
        )
    left, right, cnt = best["sym"], best["nxt"], int(best["cnt"])
    merged = _bpe_apply_merge(sym_df, left, right).localCheckpoint(eager=False)
    return merged, left, right, cnt


# Trained tokenizer state: (final symbol table, per-round merge log).
# Training is the expensive part (BPE_MERGE_ROUNDS × three windows +
# a 1-row argmax action); the merges entry and the encode entry both
# consume it, so it's memoized per (session, sf_dir) like the dedup
# band tables — the persisted `merges.txt` + vocab of a real tokenizer.


def _bpe_train(
    spark: SparkSession, sf_dir: str, scope: str = "full"
) -> tuple[DataFrame, list]:
    """``scope``: 'full' trains on the whole corpus (the merges/encode
    entries); 'train' on shard_split's train buckets only (the holdout
    entry — so val/test really contain words the tokenizer never saw)."""

    def build() -> tuple[DataFrame, list]:
        sym = _bpe_initial_symbols(spark, sf_dir, train_only=scope == "train")
        rows = []
        for k in range(1, BPE_MERGE_ROUNDS + 1):
            sym, left, right, cnt = _bpe_merge_round(sym)
            n_after = sym.agg(F.sum("freq").alias("n")).first()["n"]
            rows.append((k, left, right, cnt, int(n_after)))
        return sym, rows

    return memo.cached(spark, "bpe", ("train", sf_dir, scope), build)


def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, BPE_MERGE_ROUNDS rounds: one output row
    per learned merge — the merge rule, its (overlap-counted,
    freq-weighted) score at selection time, and the corpus symbol count
    after applying it. Round k's counts depend on round k−1's rewrite,
    so the driver hash certifies the full iterated loop.

    Scale shape: everything runs on the compacted vocabulary (distinct
    words × their symbol positions), never the token stream; per round
    one grouped count + three windows partitioned by word; the argmax is
    a 1-row driver action (the bounded-collect discipline of
    connected_components' convergence counts)."""
    _, rows = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        rows,
        "round long, left_sym string, right_sym string, "
        "n_occurrences long, n_corpus_symbols_after long",
    )


def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the trained tokenizer: per-document word and BPE-piece
    counts under the BPE_MERGE_ROUNDS learned merges — the
    tokenize-the-corpus step that follows training in a real pipeline.

    Scale shape — the reason this is cheap: merges are applied to the
    VOCABULARY (the trained symbol table already is the merged form of
    every distinct word), so per-word piece counts are one grouped
    count over it; documents then need only a hash join of their
    (word, occurrence-count) pairs against that piece table — the token
    stream itself is never rewritten. At 100 TB the vocab table is
    broadcast-sized while the corpus side stays scan-local."""
    sym, _ = _bpe_train(spark, sf_dir)
    pieces = sym.groupBy("tok").agg(F.count(F.lit(1)).alias("n_pieces"))
    norm = _norm_col()
    doc_toks = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(F.split(norm, " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = (
        doc_toks.join(F.broadcast(pieces), "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.sum(F.col("c") * F.col("n_pieces")).cast("long").alias("n_bpe_pieces"),
        )
    )
    return (
        _docs(spark, sf_dir)
        .select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_bpe_pieces", F.lit(0)).cast("long").alias("n_bpe_pieces"),
            (
                F.coalesce("n_bpe_pieces", F.lit(0))
                / F.greatest(F.coalesce("n_words", F.lit(0)), F.lit(1))
            ).alias("pieces_per_word"),
        )
    )


def bpe_encode_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize a HELD-OUT split with a tokenizer trained on the train
    split alone (VERDICT r5 #2): ``text_bpe_encode`` inner-joins against
    the trained vocabulary, which is exact on the training corpus but
    would silently drop words the tokenizer never saw. A real tokenizer
    applies its merge RANKS to any word; this entry does exactly that —
    train on shard_split's train buckets (0-7), encode val+test (8-9):

      1. words of the holdout split that ARE in the trained vocabulary
         take their piece counts straight from the trained symbol table;
      2. UNSEEN words explode to characters and replay the stored merge
         rules in rank order through the same greedy non-overlapping
         window kernel training used (_bpe_apply_merge). Rank order is
         sufficient: a rule's symbols can only be built by strictly
         earlier rules, so sequential application equals the canonical
         lowest-rank-first loop.

    Scale shape: the rank replay runs on DISTINCT UNSEEN WORDS — a
    vanishing fraction of the vocabulary, which is itself a vanishing
    fraction of the token stream; the per-doc aggregation is the same
    broadcast-vocab hash join as text_bpe_encode. Nothing touches the
    token stream row-wise. Every holdout word is covered by construction
    (seen ∪ unseen), so no word is ever dropped."""
    sym, rows = _bpe_train(spark, sf_dir, scope="train")
    merges = [(r[1], r[2]) for r in rows]
    seen_pieces = (
        sym.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_pieces"))
        .withColumn("seen", F.lit(1).cast("long"))
    )
    bucket = _split_bucket_col()
    split_col = F.when(bucket == 8, "val").otherwise("test")
    hold = (
        _docs(spark, sf_dir)
        .filter(bucket >= 8)
        .select("doc_id", split_col.alias("split"), "text")
    )
    hold_toks = (
        hold.select(
            "doc_id", "split", F.explode(F.split(_norm_col(), " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "split", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    unseen = (
        hold_toks.select("tok")
        .distinct()
        .join(seen_pieces.select("tok"), "tok", "left_anti")
    )
    unseen_pieces = _unseen_pieces(unseen, merges).withColumn(
        "seen", F.lit(0).cast("long")
    )
    pieces = seen_pieces.unionByName(unseen_pieces)
    per_doc = (
        hold_toks.join(F.broadcast(pieces), "tok")
        .groupBy("doc_id", "split")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.sum(F.col("c") * (F.lit(1) - F.col("seen"))).cast("long").alias("n_unseen_words"),
            F.sum(F.col("c") * F.col("n_pieces")).cast("long").alias("n_bpe_pieces"),
        )
    )
    return (
        hold.select("doc_id", "split")
        .join(per_doc, ["doc_id", "split"], "left")
        .select(
            "doc_id",
            "split",
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_unseen_words", F.lit(0)).cast("long").alias("n_unseen_words"),
            F.coalesce("n_bpe_pieces", F.lit(0)).cast("long").alias("n_bpe_pieces"),
            (
                F.coalesce("n_bpe_pieces", F.lit(0))
                / F.greatest(F.coalesce("n_words", F.lit(0)), F.lit(1))
            ).alias("pieces_per_word"),
        )
    )


def bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained tokenizer's PIECE VOCABULARY — the vocab.json artifact
    that, with the merges log (text_bpe_merges), fully serializes the
    tokenizer: every distinct symbol surviving BPE_MERGE_ROUNDS of
    training, its corpus occurrence count, and a deterministic piece id
    (dense rank by descending count, then lexicographic — the id
    assignment real tokenizers persist). Vocabulary-sized output: the
    table a 100 TB pipeline broadcasts, never shuffles."""
    from pyspark.sql import Window

    sym, _ = _bpe_train(spark, sf_dir)
    counts = sym.groupBy("sym").agg(
        F.sum("freq").cast("long").alias("n_occurrences")
    )
    w = Window.orderBy(F.desc("n_occurrences"), "sym")
    return counts.select(
        F.col("sym").alias("piece"),
        F.row_number().over(w).cast("long").alias("piece_id"),
        "n_occurrences",
        F.length("sym").cast("long").alias("n_chars"),
    )


def _bpe_vocab_sql() -> str:
    n = BPE_MERGE_ROUNDS
    chain = ",\n".join(_bpe_chain_sql())
    return f"""WITH {chain},
counts AS (
  SELECT sym, CAST(SUM(freq) AS BIGINT) AS n_occurrences
  FROM sym{n} GROUP BY sym
)
SELECT sym AS piece,
       CAST(row_number() OVER (ORDER BY n_occurrences DESC, sym) AS BIGINT) AS piece_id,
       n_occurrences,
       CAST(length(sym) AS BIGINT) AS n_chars
FROM counts
"""


def _unseen_pieces(unseen_words: DataFrame, merges: list) -> DataFrame:
    """(tok, n_pieces) for words NOT in the trained vocabulary: replay
    the stored merge rules in rank order over each word — ONE Arrow
    pass (shared by the holdout entry and the injected-unseen entry).

    Per rule, application is the training kernel's greedy left-to-right
    NON-OVERLAPPING rewrite. The sequential scan here is exactly
    _bpe_apply_merge's window formulation: matches are decided on the
    rule's input sequence (a fused pair is appended and never re-examined
    within the same rule), and on an overlap run (only possible when
    left == right) consuming both symbols and continuing AFTER the pair
    reproduces the every-other-match selection from the run head.
    tests/test_text_bpe.py pins the two formulations equal on planted
    words including overlap runs.

    This replaces a BPE_MERGE_ROUNDS-deep ladder of ~5 window operators
    per rule (≈50 sequential window/sort stages on the plan's critical
    path) with one mapInPandas stage over the DISTINCT unseen words —
    same vocabulary-sized input, same output, two orders of magnitude
    fewer plan nodes (opt guide §4.2: per-batch work in vectorizable
    native/Python code once distribution is handled). The DuckDB oracle
    still replays the ladder as chained SQL CTEs, so the driver hash
    certifies this rewrite against the canonical formulation."""
    import pandas as pd

    merges_local = [(left, right, left + right) for left, right in merges]

    def apply_batches(it):
        for pdf in it:
            toks = pdf["tok"]
            counts = []
            for tok in toks:
                syms = list(tok)
                for left, right, fused in merges_local:
                    n = len(syms)
                    if n < 2:
                        break
                    out = []
                    i = 0
                    while i < n:
                        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
                            out.append(fused)
                            i += 2
                        else:
                            out.append(syms[i])
                            i += 1
                    syms = out
                counts.append(len(syms))
            yield pd.DataFrame({"tok": toks, "n_pieces": pd.Series(counts, dtype="int64")})

    return unseen_words.select("tok").mapInPandas(
        apply_batches, "tok string, n_pieces long"
    )


def bpe_encode_unseen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-VISIBLE exercise of the unseen-word tokenizer path
    (NEXT.md r6 #2): the synthetic corpus's holdout split shares the
    training vocabulary completely, so ``text_bpe_encode_holdout``'s
    driver hash certifies an EMPTY unseen set there. This entry plants
    unseen words in-query (the text_pii_redact injection discipline):
    every word of every document is REVERSED, the tokenizer stays
    trained on the original corpus, and the reversed words that don't
    happen to exist in the vocabulary (nearly all — palindromes take
    the seen path) replay the stored merge ranks through the training
    kernel. The driver hash therefore certifies the rank-replay
    machinery itself — ladder SQL and window kernel end-to-end — not
    just its plumbing.

    Scale shape: identical to bpe_encode_holdout — the replay runs on
    DISTINCT unseen words (vocabulary-sized), the per-doc aggregation
    is a broadcast-vocab hash join; the token stream is never
    rewritten."""
    sym, rows = _bpe_train(spark, sf_dir)
    merges = [(r[1], r[2]) for r in rows]
    seen_pieces = (
        sym.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_pieces"))
        .withColumn("seen", F.lit(1).cast("long"))
    )
    doc_toks = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(F.split(_norm_col(), " ")).alias("raw"))
        .filter(F.col("raw") != "")
        .select("doc_id", F.reverse(F.col("raw")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    unseen = (
        doc_toks.select("tok")
        .distinct()
        .join(seen_pieces.select("tok"), "tok", "left_anti")
    )
    unseen_pieces = _unseen_pieces(unseen, merges).withColumn(
        "seen", F.lit(0).cast("long")
    )
    pieces = seen_pieces.unionByName(unseen_pieces)
    per_doc = (
        doc_toks.join(F.broadcast(pieces), "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.sum(F.col("c") * (F.lit(1) - F.col("seen"))).cast("long").alias("n_unseen_words"),
            F.sum(F.col("c") * F.col("n_pieces")).cast("long").alias("n_bpe_pieces"),
        )
    )
    return (
        _docs(spark, sf_dir)
        .select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_unseen_words", F.lit(0)).cast("long").alias("n_unseen_words"),
            F.coalesce("n_bpe_pieces", F.lit(0)).cast("long").alias("n_bpe_pieces"),
            (
                F.coalesce("n_bpe_pieces", F.lit(0))
                / F.greatest(F.coalesce("n_words", F.lit(0)), F.lit(1))
            ).alias("pieces_per_word"),
        )
    )


def _bpe_chain_sql(where: str = "") -> list[str]:
    parts = [
        f"""toks AS (
  SELECT unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM documents{where}
),
t AS (SELECT tok FROM toks WHERE tok <> ''),
vocab AS (SELECT tok, COUNT(*) AS freq FROM t GROUP BY tok),
sym0 AS MATERIALIZED (
  SELECT tok, freq, i AS pos, substr(tok, i, 1) AS sym
  FROM (SELECT tok, freq, unnest(generate_series(1, length(tok))) AS i FROM vocab)
)"""
    ]
    for k in range(1, BPE_MERGE_ROUNDS + 1):
        p = k - 1
        parts.append(f"""cnt{k} AS (
  SELECT sym AS l, nxt AS r, SUM(freq) AS c
  FROM (SELECT sym, lead(sym) OVER (PARTITION BY tok ORDER BY pos) AS nxt, freq
        FROM sym{p})
  WHERE nxt IS NOT NULL GROUP BY sym, nxt
),
best{k} AS (SELECT l, r, CAST(c AS BIGINT) AS c FROM cnt{k} ORDER BY c DESC, l, r LIMIT 1),
m{k} AS (
  SELECT s.tok, s.freq, s.pos, s.sym, b.l AS bl, b.r AS br,
         row_number() OVER (PARTITION BY s.tok ORDER BY s.pos) AS idx,
         COALESCE(s.sym = b.l
                  AND lead(s.sym) OVER (PARTITION BY s.tok ORDER BY s.pos) = b.r,
                  false) AS match
  FROM sym{p} s CROSS JOIN best{k} b
),
mm{k} AS (
  SELECT *, COALESCE(lag(match) OVER (PARTITION BY tok ORDER BY pos), false) AS prev_match
  FROM m{k}
),
r{k} AS (
  SELECT *, MAX(CASE WHEN match AND NOT prev_match THEN idx END)
              OVER (PARTITION BY tok ORDER BY pos ROWS UNBOUNDED PRECEDING) AS run_start
  FROM mm{k}
),
s{k} AS (
  SELECT *, match AND (idx - run_start) % 2 = 0 AS selected FROM r{k}
),
sym{k} AS MATERIALIZED (
  SELECT tok, freq, pos, CASE WHEN selected THEN bl || br ELSE sym END AS sym
  FROM (SELECT *, COALESCE(lag(selected) OVER (PARTITION BY tok ORDER BY pos), false)
               AS dropped
        FROM s{k})
  WHERE NOT dropped
),
tot{k} AS (SELECT CAST(SUM(freq) AS BIGINT) AS n_after FROM sym{k})""")
    return parts


def _bpe_merges_sql() -> str:
    selects = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS BIGINT) AS round, b.l AS left_sym, b.r AS right_sym, "
        f"b.c AS n_occurrences, t.n_after AS n_corpus_symbols_after "
        f"FROM best{k} b CROSS JOIN tot{k} t"
        for k in range(1, BPE_MERGE_ROUNDS + 1)
    )
    chain = ",\n".join(_bpe_chain_sql())
    return f"WITH {chain}\n{selects}"


def _bpe_encode_sql() -> str:
    """Apply-the-tokenizer twin: the trained chain's final symbol table
    gives per-word piece counts; documents hash-join against it."""
    n = BPE_MERGE_ROUNDS
    chain = ",\n".join(_bpe_chain_sql())
    return f"""WITH {chain},
pieces AS (SELECT tok, COUNT(*) AS n_pieces FROM sym{n} GROUP BY tok),
doc_toks AS (
  SELECT doc_id, tok, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM documents)
  WHERE tok <> ''
  GROUP BY doc_id, tok
),
agg AS (
  SELECT d.doc_id,
         CAST(SUM(c) AS BIGINT) AS n_words,
         CAST(SUM(c * n_pieces) AS BIGINT) AS n_bpe_pieces
  FROM doc_toks d JOIN pieces USING (tok)
  GROUP BY d.doc_id
)
SELECT doc_id,
       CAST(COALESCE(n_words, 0) AS BIGINT) AS n_words,
       CAST(COALESCE(n_bpe_pieces, 0) AS BIGINT) AS n_bpe_pieces,
       COALESCE(n_bpe_pieces, 0) / GREATEST(COALESCE(n_words, 0), 1) AS pieces_per_word
FROM documents
LEFT JOIN agg USING (doc_id)
"""


_BUCKET_SQL = f"CAST(('0x' || substr(md5({_NORM_SQL}), 1, 15)) AS BIGINT) % 10"


def _bpe_apply_ladder_sql() -> str:
    """The rank-replay ladder: usym{k} rewrites usym{k-1} with the
    trained best{k} rule through the same greedy non-overlap window
    construction as training — shared by the holdout and
    injected-unseen oracles (expects an ``unseen``-derived ``usym0``
    CTE and the trained chain's ``best{k}`` CTEs in scope)."""
    parts = []
    for k in range(1, BPE_MERGE_ROUNDS + 1):
        p = k - 1
        parts.append(f"""um{k} AS (
  SELECT s.tok, s.freq, s.pos, s.sym, b.l AS bl, b.r AS br,
         row_number() OVER (PARTITION BY s.tok ORDER BY s.pos) AS idx,
         COALESCE(s.sym = b.l
                  AND lead(s.sym) OVER (PARTITION BY s.tok ORDER BY s.pos) = b.r,
                  false) AS match
  FROM usym{p} s CROSS JOIN best{k} b
),
umm{k} AS (
  SELECT *, COALESCE(lag(match) OVER (PARTITION BY tok ORDER BY pos), false) AS prev_match
  FROM um{k}
),
ur{k} AS (
  SELECT *, MAX(CASE WHEN match AND NOT prev_match THEN idx END)
              OVER (PARTITION BY tok ORDER BY pos ROWS UNBOUNDED PRECEDING) AS run_start
  FROM umm{k}
),
us{k} AS (
  SELECT *, match AND (idx - run_start) % 2 = 0 AS selected FROM ur{k}
),
usym{k} AS MATERIALIZED (
  SELECT tok, freq, pos, CASE WHEN selected THEN bl || br ELSE sym END AS sym
  FROM (SELECT *, COALESCE(lag(selected) OVER (PARTITION BY tok ORDER BY pos), false)
               AS dropped
        FROM us{k})
  WHERE NOT dropped
)""")
    return ",\n".join(parts)


def _bpe_encode_unseen_sql() -> str:
    """Injected-unseen twin: full-corpus training chain + reversed-word
    document tokens + the shared rank-replay ladder for the reversed
    words missing from the vocabulary."""
    n = BPE_MERGE_ROUNDS
    chain = ",\n".join(_bpe_chain_sql())
    applies = _bpe_apply_ladder_sql()
    return f"""WITH {chain},
doc_toks AS (
  SELECT doc_id, reverse(tok) AS tok, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM documents)
  WHERE tok <> ''
  GROUP BY doc_id, reverse(tok)
),
seen_pieces AS MATERIALIZED (
  SELECT tok, COUNT(*) AS n_pieces, CAST(1 AS BIGINT) AS seen
  FROM sym{n} GROUP BY tok
),
unseen AS (
  SELECT DISTINCT d.tok FROM doc_toks d
  WHERE NOT EXISTS (SELECT 1 FROM seen_pieces s WHERE s.tok = d.tok)
),
usym0 AS MATERIALIZED (
  SELECT tok, CAST(1 AS BIGINT) AS freq, i AS pos, substr(tok, i, 1) AS sym
  FROM (SELECT tok, unnest(generate_series(1, length(tok))) AS i FROM unseen)
),
{applies},
unseen_pieces AS (
  SELECT tok, COUNT(*) AS n_pieces, CAST(0 AS BIGINT) AS seen
  FROM usym{n} GROUP BY tok
),
pieces AS (SELECT * FROM seen_pieces UNION ALL SELECT * FROM unseen_pieces),
agg AS (
  SELECT d.doc_id,
         CAST(SUM(c) AS BIGINT) AS n_words,
         CAST(SUM(c * (1 - seen)) AS BIGINT) AS n_unseen_words,
         CAST(SUM(c * n_pieces) AS BIGINT) AS n_bpe_pieces
  FROM doc_toks d JOIN pieces USING (tok)
  GROUP BY d.doc_id
)
SELECT doc_id,
       CAST(COALESCE(n_words, 0) AS BIGINT) AS n_words,
       CAST(COALESCE(n_unseen_words, 0) AS BIGINT) AS n_unseen_words,
       CAST(COALESCE(n_bpe_pieces, 0) AS BIGINT) AS n_bpe_pieces,
       COALESCE(n_bpe_pieces, 0) / GREATEST(COALESCE(n_words, 0), 1) AS pieces_per_word
FROM documents
LEFT JOIN agg USING (doc_id)
"""


def _bpe_encode_holdout_sql() -> str:
    """Holdout twin: the trained chain runs on the train split only;
    unseen holdout words replay best1..bestN in rank order through the
    same windowed greedy kernel; seen words read the trained table."""
    n = BPE_MERGE_ROUNDS
    chain = ",\n".join(_bpe_chain_sql(f" WHERE {_BUCKET_SQL} <= 7"))
    applies = _bpe_apply_ladder_sql()
    return f"""WITH {chain},
hold AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN {_BUCKET_SQL} = 8 THEN 'val' ELSE 'test' END AS split,
         {_NORM_SQL} AS norm
  FROM documents WHERE {_BUCKET_SQL} >= 8
),
hold_toks AS (
  SELECT doc_id, split, tok, COUNT(*) AS c
  FROM (SELECT doc_id, split, unnest(string_split(norm, ' ')) AS tok FROM hold)
  WHERE tok <> ''
  GROUP BY doc_id, split, tok
),
seen_pieces AS MATERIALIZED (
  SELECT tok, COUNT(*) AS n_pieces, CAST(1 AS BIGINT) AS seen
  FROM sym{n} GROUP BY tok
),
unseen AS (
  SELECT DISTINCT h.tok FROM hold_toks h
  WHERE NOT EXISTS (SELECT 1 FROM seen_pieces s WHERE s.tok = h.tok)
),
usym0 AS MATERIALIZED (
  SELECT tok, CAST(1 AS BIGINT) AS freq, i AS pos, substr(tok, i, 1) AS sym
  FROM (SELECT tok, unnest(generate_series(1, length(tok))) AS i FROM unseen)
),
{applies},
unseen_pieces AS (
  SELECT tok, COUNT(*) AS n_pieces, CAST(0 AS BIGINT) AS seen
  FROM usym{n} GROUP BY tok
),
pieces AS (SELECT * FROM seen_pieces UNION ALL SELECT * FROM unseen_pieces),
agg AS (
  SELECT h.doc_id, h.split,
         CAST(SUM(c) AS BIGINT) AS n_words,
         CAST(SUM(c * (1 - seen)) AS BIGINT) AS n_unseen_words,
         CAST(SUM(c * n_pieces) AS BIGINT) AS n_bpe_pieces
  FROM hold_toks h JOIN pieces USING (tok)
  GROUP BY h.doc_id, h.split
)
SELECT d.doc_id, d.split,
       CAST(COALESCE(n_words, 0) AS BIGINT) AS n_words,
       CAST(COALESCE(n_unseen_words, 0) AS BIGINT) AS n_unseen_words,
       CAST(COALESCE(n_bpe_pieces, 0) AS BIGINT) AS n_bpe_pieces,
       COALESCE(n_bpe_pieces, 0) / GREATEST(COALESCE(n_words, 0), 1) AS pieces_per_word
FROM (SELECT doc_id, split FROM hold) d
LEFT JOIN agg USING (doc_id, split)
"""


registry.register("text_tfidf_top_terms", tfidf_top_terms, TFIDF_SQL)
registry.register("text_bpe_pair_counts", bpe_pair_counts, BPE_PAIRS_SQL)
registry.register("text_bpe_merges", bpe_merges, _bpe_merges_sql())
registry.register("text_bpe_encode", bpe_encode, _bpe_encode_sql())
registry.register(
    "text_bpe_encode_holdout", bpe_encode_holdout, _bpe_encode_holdout_sql()
)
registry.register("text_bpe_vocab", bpe_vocab, _bpe_vocab_sql())
registry.register("text_bpe_encode_unseen", bpe_encode_unseen, _bpe_encode_unseen_sql())
registry.register("text_unigram_surprisal", unigram_surprisal, UNIGRAM_SURPRISAL_SQL)
registry.register("text_token_stats", token_stats, TOKEN_STATS_SQL)
registry.register("text_quality_score", quality_score, QUALITY_SQL)
registry.register("text_lang_id", lang_id, LANG_ID_SQL)
registry.register("text_stopword_ratios", stopword_ratios, STOPWORD_RATIOS_SQL)
registry.register("text_repetition_stats", repetition_stats, REPETITION_SQL)
registry.register("text_pii_redact", pii_redact, PII_REDACT_SQL)
def zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-binned rank-frequency profile of the corpus vocabulary — the
    Zipf diagnostic a corpus audit runs (a healthy natural-language
    corpus shows total occurrences roughly CONSTANT per log-rank bin;
    boilerplate floods the head, OCR noise fattens the tail).  Bin =
    bit_length(rank) over the (count DESC, token ASC) total order, so
    bin k holds ranks [2^(k-1), 2^k): per bin, type count, total/max/min
    occurrences — all exact integers.

    Scale shape: token counts are a map-side-combinable aggregate; the
    total order comes from ranking.global_row_number (range partition +
    local sort + offsets — never a single-partition window); the profile
    is a ~log2(|vocab|)-row aggregate.  The oracle replays the ranking
    as a SQL window (tie-broken identically) and the bin via DuckDB's
    printf('%b') bit length."""
    from .ranking import global_row_number

    d = _docs(spark, sf_dir).select("doc_id", F.split(_norm_col(), " ").alias("toks"))
    tf = (
        d.select(F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = global_row_number(
        tf, [F.desc("c"), F.asc("token")], rank_col="r"
    )
    return (
        ranked.groupBy(_bits(F.col("r")).alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum("c").alias("total_occurrences"),
            F.max("c").alias("max_count"),
            F.min("c").alias("min_count"),
        )
        .select(
            "bin",
            F.col("n_types").cast("long").alias("n_types"),
            F.col("total_occurrences").cast("long").alias("total_occurrences"),
            F.col("max_count").cast("long").alias("max_count"),
            F.col("min_count").cast("long").alias("min_count"),
        )
    )


ZIPF_SQL = f"""
WITH tok AS (
  SELECT unnest(string_split({_NORM_SQL}, ' ')) AS token FROM documents
),
tf AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, token ASC) AS r FROM tf
)
SELECT CAST(len(printf('%b', r)) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(c) AS BIGINT) AS total_occurrences,
       CAST(MAX(c) AS BIGINT) AS max_count,
       CAST(MIN(c) AS BIGINT) AS min_count
FROM ranked
GROUP BY 1
"""


# --- Curriculum ordering ---------------------------------------------------
#
# Curriculum learning orders training data easy→hard (Bengio et al.
# 2009); for text the standard difficulty proxy is information density —
# mean token surprisal under the corpus LM. Exact-integer discipline:
# difficulty_milli = 1000·total_surprisal_bits DIV n_tokens (the
# floor-log2 surprisal of text_unigram_surprisal, so both engines agree
# bit-for-bit), the global order comes from the distributed ranking
# kernel (never a single-partition window), and the rank round-robins
# into CURRICULUM_SHARDS stratified shards — each shard is its own
# easy→hard subsequence, so data-parallel workers all see the same
# difficulty ramp.
CURRICULUM_SHARDS = 8


def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Easy→hard curriculum ordering of the corpus with stratified
    shard interleave.

    Scale shape: the difficulty score is the unigram-surprisal kernel
    (one token scan + vocab join); the total order is
    ranking.global_row_number (range partition + local sort + offsets);
    the shard/position derivation is arithmetic on the rank — nothing
    corpus-sized beyond the scoring pass itself."""
    from .ranking import global_row_number

    s = unigram_surprisal(spark, sf_dir).select(
        "doc_id",
        F.expr("(1000 * total_surprisal_bits) DIV n_tokens").alias(
            "difficulty_milli"
        ),
    )
    ranked = global_row_number(
        s, [F.asc("difficulty_milli"), F.asc("doc_id")], rank_col="curriculum_rank"
    )
    return ranked.select(
        "doc_id",
        F.col("difficulty_milli").cast("long").alias("difficulty_milli"),
        F.col("curriculum_rank").cast("long").alias("curriculum_rank"),
        ((F.col("curriculum_rank") - 1) % CURRICULUM_SHARDS)
        .cast("long")
        .alias("shard"),
        (
            F.expr(f"(curriculum_rank - 1) DIV {CURRICULUM_SHARDS}") + 1
        )
        .cast("long")
        .alias("position_in_shard"),
    )


CURRICULUM_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM documents
),
t AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
c AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY tok),
n AS (SELECT COUNT(*) AS n_total FROM t),
s AS (
  SELECT doc_id,
         (1000 * CAST(SUM(len(printf('%b', n_total)) - len(printf('%b', c.c))) AS BIGINT))
           // COUNT(*) AS difficulty_milli
  FROM t JOIN c USING (tok), n
  GROUP BY doc_id
),
r AS (
  SELECT doc_id, difficulty_milli,
         row_number() OVER (ORDER BY difficulty_milli, doc_id) AS curriculum_rank
  FROM s
)
SELECT doc_id,
       CAST(difficulty_milli AS BIGINT) AS difficulty_milli,
       CAST(curriculum_rank AS BIGINT) AS curriculum_rank,
       CAST((curriculum_rank - 1) % {CURRICULUM_SHARDS} AS BIGINT) AS shard,
       CAST((curriculum_rank - 1) // {CURRICULUM_SHARDS} + 1 AS BIGINT)
         AS position_in_shard
FROM r
"""

registry.register("docs_curriculum_order", curriculum_order, CURRICULUM_SQL)


registry.register("text_zipf_profile", zipf_profile, ZIPF_SQL)
registry.register("text_vocabulary", vocabulary, VOCABULARY_SQL)
registry.register("text_fingerprint", fingerprint, FINGERPRINT_SQL)


# --- hashing-trick linear classifier (quality-filter inference) ------------

# Model size of the hashing classifier: every unigram/bigram feature maps
# into one of CLF_BUCKETS embedding rows (the fastText hashing trick) —
# collisions are part of the model, not an error. Weights live in
# [-(CLF_WEIGHT_RANGE//2), CLF_WEIGHT_RANGE//2] as exact integers.
CLF_BUCKETS = 4096
CLF_WEIGHT_RANGE = 2001


def hash_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashing-trick linear classifier INFERENCE — the
    model-based quality-filter pass production corpora gate on (the
    DCLM / FineWeb-Edu classifier-filter shape): per document, unigram +
    adjacent-bigram features hash into CLF_BUCKETS weight rows, the score
    is the summed weights, and the keep decision is its sign.

    The per-bucket weight here is md5-derived — a deterministic stand-in
    with the exact structure of a trained table (feature → bucket →
    weight lookup → sum); a production deployment swaps the weight
    expression for a broadcast join against its trained vectors, the
    text_bpe_encode discipline. Everything else — tokenization, feature
    construction, hashing, pooling — is the real kernel.

    Scale shape: a pure scan-project — features, buckets, weights, and
    the score all happen ARRAY-SIDE inside the row (transform +
    aggregate, whole-stage codegen), so the entry is zero-shuffle,
    zero-join, and embarrassingly parallel at any corpus size. Integer
    score, one IEEE division for the mean: hash-portable."""
    return hash_classifier_df(_docs(spark, sf_dir))


def hash_classifier_df(d: DataFrame) -> DataFrame:
    """Kernel of text_hash_classifier over any (doc_id, text) DataFrame."""
    toks = F.filter(F.split(_norm_col(), " "), lambda t: t != "")
    base = d.select("doc_id", toks.alias("toks"))
    bis = _adjacent_bigrams(F.col("toks"))

    def _bucket(f: F.Column) -> F.Column:
        return (
            F.conv(F.substring(F.md5(F.concat(F.lit("clf:"), f)), 1, 8), 16, 10).cast(
                "long"
            )
            % CLF_BUCKETS
        )

    def _weight(b: F.Column) -> F.Column:
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("w:"), b.cast("string"))), 1, 8),
                16,
                10,
            ).cast("long")
            % CLF_WEIGHT_RANGE
            - CLF_WEIGHT_RANGE // 2
        )

    feats = F.concat(F.col("toks"), bis)
    score = F.aggregate(
        F.transform(feats, lambda ft: _weight(_bucket(ft))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    out = base.select(
        "doc_id", F.size(feats).alias("n_features"), score.alias("score_sum")
    )
    return out.select(
        "doc_id",
        "n_features",
        "score_sum",
        F.when(
            F.col("n_features") > 0,
            F.col("score_sum").cast("double") / F.col("n_features"),
        )
        .otherwise(F.lit(0.0))
        .alias("mean_weight"),
        (F.col("score_sum") >= 0).alias("keep"),
    )


HASH_CLASSIFIER_SQL = f"""
WITH d AS (
  SELECT doc_id, list_filter(string_split({_NORM_SQL}, ' '), t -> t <> '') AS toks
  FROM documents
),
f AS (
  SELECT doc_id,
         list_concat(
           toks,
           CASE WHEN len(toks) >= 2
                THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
                ELSE [] END) AS feats
  FROM d
),
w AS (
  SELECT doc_id, feats,
         list_transform(feats, ft ->
           CAST(('0x' || substr(md5('w:' || CAST(
             CAST(('0x' || substr(md5('clf:' || ft), 1, 8)) AS BIGINT) % {CLF_BUCKETS}
           AS VARCHAR)), 1, 8)) AS BIGINT) % {CLF_WEIGHT_RANGE} - {CLF_WEIGHT_RANGE // 2}
         ) AS ws
  FROM f
)
SELECT doc_id,
       CAST(len(feats) AS BIGINT) AS n_features,
       CAST(COALESCE(list_sum(ws), 0) AS BIGINT) AS score_sum,
       CASE WHEN len(feats) > 0
            THEN CAST(COALESCE(list_sum(ws), 0) AS DOUBLE) / len(feats)
            ELSE 0.0 END AS mean_weight,
       COALESCE(list_sum(ws), 0) >= 0 AS keep
FROM w
"""

registry.register("text_hash_classifier", hash_classifier, HASH_CLASSIFIER_SQL)


# --- trained Naive Bayes language classifier (train → apply → evaluate) -----

def nb_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A classifier actually TRAINED in-engine, end to end: multinomial
    Naive Bayes over token features, trained on the shard split's train
    buckets (md5 bucket ≤ 7 — the text_shard_split convention), applied
    to the holdout (buckets 8–9), evaluated as a confusion matrix. NB
    training IS aggregation — per-class token counts, class totals, doc
    priors, vocabulary size — so the whole train/apply/eval pipeline is
    relational and, in the engine's exact-integer discipline, bit-
    portable: add-one-smoothed likelihoods become floor-log2 surprisal
    ``bits(n_c + V) − bits(cnt+1)`` (the unigram_surprisal primitive),
    priors ``bits(N) − bits(nd_c)``, prediction is the argmin score with
    a deterministic (score, class) tie-break, and no float ever appears.

    Scale shape: token-instance compaction (one shuffle, map-side
    combinable), count tables ∝ vocabulary, scoring joins the holdout's
    compacted instances against a BROADCAST class table (|langs| rows)
    and the (lang, tok) count table key-partitioned — the LM-scoring
    floor; the argmin window partitions by doc.

    Honesty note: the synthetic corpus's text is largely independent of
    its lang label, so holdout accuracy sits near chance with a
    small-class bias (floor-log2 makes bits(n_c+V) a per-token constant
    favoring the smallest class) — the driver hash certifies the
    train/apply/eval PIPELINE on a real confusion matrix, exactly as
    sim_mrl_truncate_rerank's hash pins a genuinely lossy recall."""
    d = _docs(spark, sf_dir)
    norm = _norm_col()
    bucket = F.pmod(
        F.conv(F.substring(F.md5(norm), 1, 15), 16, 10).cast("long"), F.lit(10)
    )
    toks = F.filter(F.split(norm, " "), lambda t: t != "")
    base = d.select(
        "doc_id", "lang", bucket.alias("bucket"), toks.alias("toks")
    ).filter(F.size("toks") > 0)
    inst = (
        base.select("doc_id", "lang", "bucket", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "lang", "bucket", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    train = inst.filter(F.col("bucket") <= 7)
    counts = train.groupBy("lang", "tok").agg(F.sum("n").alias("cnt"))
    totals = counts.groupBy("lang").agg(F.sum("cnt").alias("n_c"))
    nd = train.groupBy("lang").agg(F.countDistinct("doc_id").alias("nd_c"))
    vn = train.agg(
        F.countDistinct("tok").alias("v"), F.countDistinct("doc_id").alias("nn")
    )
    cls = (
        totals.join(nd, "lang")
        .crossJoin(F.broadcast(vn))
        .select(F.col("lang").alias("cls"), "n_c", "nd_c", "v", "nn")
    )
    ho = inst.filter(F.col("bucket") >= 8).select(
        "doc_id", F.col("lang").alias("actual"), "tok", "n"
    )
    sc = (
        ho.crossJoin(F.broadcast(cls))
        .join(
            counts.select(F.col("lang").alias("cls"), "tok", "cnt"),
            ["cls", "tok"],
            "left",
        )
        .groupBy("doc_id", "actual", "cls", "nd_c", "nn")
        .agg(
            F.sum(
                F.col("n")
                * (
                    _bits(F.col("n_c") + F.col("v"))
                    - _bits(F.coalesce(F.col("cnt"), F.lit(0)) + 1)
                )
            ).alias("tt")
        )
    )
    from pyspark.sql import Window

    score = F.col("tt") + _bits(F.col("nn")) - _bits(F.col("nd_c"))
    w = Window.partitionBy("doc_id").orderBy(score.asc(), F.col("cls"))
    pred = (
        sc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("actual", F.col("cls").alias("predicted"))
    )
    return pred.groupBy("actual", "predicted").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


NB_CONFUSION_SQL = f"""
WITH d AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5({_NORM_SQL}), 1, 15)) AS BIGINT) % 10 AS bucket,
         list_filter(string_split({_NORM_SQL}, ' '), t -> t <> '') AS toks
  FROM documents
),
inst AS (
  SELECT doc_id, lang, bucket, tok, COUNT(*) AS n
  FROM (SELECT doc_id, lang, bucket, unnest(toks) AS tok FROM d WHERE len(toks) > 0)
  GROUP BY doc_id, lang, bucket, tok
),
train AS (SELECT * FROM inst WHERE bucket <= 7),
counts AS (SELECT lang, tok, CAST(SUM(n) AS BIGINT) AS cnt FROM train GROUP BY lang, tok),
totals AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n_c FROM counts GROUP BY lang),
nd AS (SELECT lang, COUNT(DISTINCT doc_id) AS nd_c FROM train GROUP BY lang),
vn AS (SELECT COUNT(DISTINCT tok) AS v, COUNT(DISTINCT doc_id) AS nn FROM train),
cls AS (
  SELECT t.lang AS cls, n_c, nd_c, v, nn
  FROM totals t JOIN nd ON t.lang = nd.lang CROSS JOIN vn
),
ho AS (SELECT doc_id, lang AS actual, tok, n FROM inst WHERE bucket >= 8),
sc AS (
  SELECT ho.doc_id, ho.actual, cls.cls, cls.nd_c, cls.nn,
         SUM(ho.n * (len(printf('%b', cls.n_c + cls.v))
                     - len(printf('%b', COALESCE(c.cnt, 0) + 1)))) AS tt
  FROM ho CROSS JOIN cls
  LEFT JOIN counts c ON c.lang = cls.cls AND c.tok = ho.tok
  GROUP BY ho.doc_id, ho.actual, cls.cls, cls.nd_c, cls.nn
),
ranked AS (
  SELECT doc_id, actual, cls AS predicted,
         row_number() OVER (
           PARTITION BY doc_id
           ORDER BY tt + len(printf('%b', nn)) - len(printf('%b', nd_c)), cls
         ) AS rn
  FROM sc
)
SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM ranked WHERE rn = 1 GROUP BY actual, predicted
"""

registry.register("text_nb_lang_confusion", nb_lang_confusion, NB_CONFUSION_SQL)


# --- keyword retrieval (inverted-index search) -----------------------------

SEARCH_SKIP_TOP = 10     # the df-ranked head is stopword-like — skip it
SEARCH_N_QUERIES = 8
SEARCH_TERMS_PER_QUERY = 3
SEARCH_TOP_K = 10


# Memoized retrieval results (the standing search state): the BM25 and
# keyword result tables feed their own entries, BOTH hybrid fusions, and
# the Rocchio pseudo-relevance centroid — one checkpointed build per
# (session, sf_dir) in memo group "search", exactly the
# similarity._memoized pattern. The bench bills the cold builds in its
# timed `text_search_build` line and clears the group before every
# attempt, so nothing is cached across runs and per-entry timings
# measure marginal cost.
def _search_memoized(tag: str, spark: SparkSession, sf_dir: str, build) -> DataFrame:
    from .dedup import _local_checkpoint_stats_clean

    return memo.cached(
        spark,
        "search",
        ("result", tag, sf_dir),
        lambda: _local_checkpoint_stats_clean(build(), eager=False),
    )


def keyword_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized keyword retrieval result — see _keyword_search_topk_build."""
    return _search_memoized(
        "keyword", spark, sf_dir, lambda: _keyword_search_topk_build(spark, sf_dir)
    )


def _keyword_search_topk_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index keyword retrieval — the SEARCH shape (query → ranked
    documents) next to tfidf_top_terms' per-doc keyword extraction. The
    query workload derives from the corpus itself so the entry is closed:
    the vocabulary ranked by (df DESC, term ASC) yields ranks 11-34 (the
    post-stopword band), dealt round-robin into 8 three-term queries.
    score(q, d) = Σ_{t ∈ q ∩ d} tf(t,d) · idf_bits(t) with the exact-
    integer ``_bits`` idf (floor-log2 difference — hash-portable), top 10
    docs per query by (score DESC, doc_id ASC).

    Scale shape: postings (doc_id, term, tf) are one explode pass; the
    24-term query table is BROADCAST onto the postings (the inverted-
    index probe — shuffle only the matching postings, ∝ hits); per-query
    ranking uses ``scalable_topk_per_group`` because 8 queries over a
    corpus-sized candidate list is exactly the hot-group cliff a
    partitionBy(query_id) window would hit — phase 1 ranks inside
    (query, 32-way salt) and keeps 10, phase 2 ranks ≤ 320 survivors.
    The rank-11..34 query-term derivation is a global top-34 (TakeOrdered)
    plus a 34-row window — both bounded constants."""
    from .ranking import scalable_topk_per_group

    d = _docs(spark, sf_dir)
    toks = (
        d.select("doc_id", F.explode(F.split(_norm_col(), " ")).alias("term"))
        .filter(F.col("term") != "")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))

    from pyspark.sql import Window

    n_terms = SEARCH_N_QUERIES * SEARCH_TERMS_PER_QUERY
    head = df_.orderBy(F.desc("df"), "term").limit(SEARCH_SKIP_TOP + n_terms)
    # 34 rows: the single-partition window is a bounded constant here
    ranked = head.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("df"), "term"))
    )
    qt = (
        ranked.filter(F.col("r") > SEARCH_SKIP_TOP)
        .select(
            ((F.col("r") - SEARCH_SKIP_TOP - 1) % SEARCH_N_QUERIES)
            .cast("long")
            .alias("query_id"),
            "term",
            "df",
        )
    )
    scored = (
        tf.join(F.broadcast(qt), "term")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(
                F.col("tf") * (_bits(F.col("n_docs")) - _bits(F.col("df")))
            ).alias("score_bits"),
            F.count(F.lit(1)).alias("n_hit_terms"),
        )
    )
    top = scalable_topk_per_group(
        scored,
        ["query_id"],
        [F.desc("score_bits"), F.asc("doc_id")],
        SEARCH_TOP_K,
        salt_on="doc_id",
    )
    return top.select(
        "query_id",
        "rank",
        "doc_id",
        F.col("score_bits").cast("long").alias("score_bits"),
        F.col("n_hit_terms").cast("long").alias("n_hit_terms"),
    )


KEYWORD_SEARCH_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS term FROM documents
),
t AS (SELECT doc_id, term FROM toks WHERE term <> ''),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
ranked AS (
  SELECT term, df, row_number() OVER (ORDER BY df DESC, term) AS r FROM df
),
qt AS (
  SELECT (r - {SEARCH_SKIP_TOP} - 1) % {SEARCH_N_QUERIES} AS query_id, term, df
  FROM ranked
  WHERE r > {SEARCH_SKIP_TOP}
    AND r <= {SEARCH_SKIP_TOP + SEARCH_N_QUERIES * SEARCH_TERMS_PER_QUERY}
),
sc AS (
  SELECT qt.query_id, tf.doc_id,
         SUM(tf.tf * (len(printf('%b', n.n_docs)) - len(printf('%b', qt.df))))
           AS score_bits,
         COUNT(*) AS n_hit_terms
  FROM tf JOIN qt USING (term) CROSS JOIN n
  GROUP BY qt.query_id, tf.doc_id
),
rk AS (
  SELECT query_id, doc_id, score_bits, n_hit_terms,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_bits DESC, doc_id) AS rank
  FROM sc
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(rank AS BIGINT) AS rank,
       doc_id,
       CAST(score_bits AS BIGINT) AS score_bits,
       CAST(n_hit_terms AS BIGINT) AS n_hit_terms
FROM rk WHERE rank <= {SEARCH_TOP_K}
"""

registry.register("text_keyword_search_topk", keyword_search_topk, KEYWORD_SEARCH_SQL)


# --- BM25 retrieval on the same inverted index -----------------------------
#
# keyword_search_topk's tf·idf_bits is the simplest ranking; BM25 is what
# a real retrieval pipeline runs (VERDICT r10 #6). Exact-integer spec so
# Spark and DuckDB hash-match:
#   k1 = 6/5, b = 3/4 (the standard 1.2 / 0.75 as fixed rationals)
#   avgdl = T // N (total tokens over docs, FLOORED to an integer — a
#     deterministic corpus constant; the ≤0.5-token perturbation is far
#     below BM25's modeling noise and makes every later product int64)
#   idf_bits(t) = bits(N) − bits(df)  (the engine's exact floor-log2 idf)
#   per-term score, scaled by 2²⁰ and floor-divided (both sides positive,
#   so Python//, Spark DIV and DuckDB // agree):
#     tscore = idf_bits · 22·tf·avgdl·2²⁰ DIV (10·avgdl·tf + 3·avgdl + 9·dl)
#   which is exactly idf_bits · (k1+1)·tf / (tf + k1·(1−b + b·dl/avgdl))
#   with numerator and denominator multiplied by 10·avgdl. Every factor
#   is bounded by data constants (tf, dl, avgdl), not corpus size, so the
#   arithmetic stays int64 at 100 TB; score = tscore_sum / 2²⁰ is one
#   exact binary-power division, hash-portable.
BM25_SCALE = 1 << 20


def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized BM25 retrieval result — see _bm25_search_topk_build."""
    return _search_memoized(
        "bm25", spark, sf_dir, lambda: _bm25_search_topk_build(spark, sf_dir)
    )


def _bm25_search_topk_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval over the inverted index — same corpus-derived 8-query
    workload and salted two-phase top-k as text_keyword_search_topk, with
    dl/avgdl length normalization from the existing token stats.

    Scale shape: ONE corpus shuffle builds the index — the token stream
    repartitions by doc_id, the (doc, term) tf aggregate runs exchange-
    free on it (HashPartitioning(doc_id) satisfies the two-key clustering)
    and dl is a window over the same partitioning (per-doc groups are
    bounded by a doc's distinct terms — never a hot partition). The
    24-term query table and the 1-row (N, T) stats broadcast; candidate
    postings shuffle ∝ hits; ranking is scalable_topk_per_group (no
    corpus-sized single-group window)."""
    from pyspark.sql import Window

    from .ranking import scalable_topk_per_group

    d = _docs(spark, sf_dir)
    toks = (
        d.select("doc_id", F.explode(F.split(_norm_col(), " ")).alias("term"))
        .filter(F.col("term") != "")
        .repartition("doc_id")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    tfdl = tf.withColumn(
        "dl", F.sum("tf").over(Window.partitionBy("doc_id"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = d.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        toks.agg(F.count(F.lit(1)).alias("t_tokens"))
    ).select(
        "n_docs",
        F.expr("t_tokens DIV n_docs").alias("avgdl"),  # exact at any T
    )

    n_terms = SEARCH_N_QUERIES * SEARCH_TERMS_PER_QUERY
    head = df_.orderBy(F.desc("df"), "term").limit(SEARCH_SKIP_TOP + n_terms)
    ranked = head.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("df"), "term"))
    )
    qt = (
        ranked.filter(F.col("r") > SEARCH_SKIP_TOP)
        .select(
            ((F.col("r") - SEARCH_SKIP_TOP - 1) % SEARCH_N_QUERIES)
            .cast("long")
            .alias("query_id"),
            "term",
            "df",
        )
    )
    idf = _bits(F.col("n_docs")) - _bits(F.col("df"))
    num = idf * F.lit(22) * F.col("tf") * F.col("avgdl") * F.lit(BM25_SCALE)
    den = (
        F.lit(10) * F.col("avgdl") * F.col("tf")
        + F.lit(3) * F.col("avgdl")
        + F.lit(9) * F.col("dl")
    )
    scored = (
        tfdl.join(F.broadcast(qt), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("bm25_num", num)
        .withColumn("bm25_den", den)
        .withColumn("tscore", F.expr("bm25_num DIV bm25_den"))
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("tscore").cast("long").alias("score_scaled"),
            F.count(F.lit(1)).alias("n_hit_terms"),
        )
    )
    top = scalable_topk_per_group(
        scored,
        ["query_id"],
        [F.desc("score_scaled"), F.asc("doc_id")],
        SEARCH_TOP_K,
        salt_on="doc_id",
    )
    return top.select(
        "query_id",
        "rank",
        "doc_id",
        F.col("score_scaled").cast("long").alias("score_scaled"),
        (F.col("score_scaled").cast("double") / F.lit(float(BM25_SCALE))).alias(
            "score"
        ),
        F.col("n_hit_terms").cast("long").alias("n_hit_terms"),
    )


BM25_SEARCH_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS term FROM documents
),
t AS (SELECT doc_id, term FROM toks WHERE term <> ''),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
tfdl AS (SELECT *, SUM(tf) OVER (PARTITION BY doc_id) AS dl FROM tf),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
st AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         (SELECT COUNT(*) FROM t) // (SELECT COUNT(*) FROM documents) AS avgdl
),
ranked AS (
  SELECT term, df, row_number() OVER (ORDER BY df DESC, term) AS r FROM df
),
qt AS (
  SELECT (r - {SEARCH_SKIP_TOP} - 1) % {SEARCH_N_QUERIES} AS query_id, term, df
  FROM ranked
  WHERE r > {SEARCH_SKIP_TOP}
    AND r <= {SEARCH_SKIP_TOP + SEARCH_N_QUERIES * SEARCH_TERMS_PER_QUERY}
),
sc AS (
  SELECT qt.query_id, tfdl.doc_id,
         SUM(((len(printf('%b', st.n_docs)) - len(printf('%b', qt.df)))
              * 22 * tfdl.tf * st.avgdl * {BM25_SCALE})
             // (10 * st.avgdl * tfdl.tf + 3 * st.avgdl + 9 * tfdl.dl))
           AS score_scaled,
         COUNT(*) AS n_hit_terms
  FROM tfdl JOIN qt USING (term) CROSS JOIN st
  GROUP BY qt.query_id, tfdl.doc_id
),
rk AS (
  SELECT query_id, doc_id, score_scaled, n_hit_terms,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_scaled DESC, doc_id) AS rank
  FROM sc
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(rank AS BIGINT) AS rank,
       doc_id,
       CAST(score_scaled AS BIGINT) AS score_scaled,
       CAST(score_scaled AS DOUBLE) / {float(BM25_SCALE)} AS score,
       CAST(n_hit_terms AS BIGINT) AS n_hit_terms
FROM rk WHERE rank <= {SEARCH_TOP_K}
"""

registry.register("text_bm25_search_topk", bm25_search_topk, BM25_SEARCH_SQL)


BM25_BATCH_MOD = 5  # doc_id % 5 == 0 plays the incoming crawl batch
                    # (the same split as DSIR_BATCH_MOD below)


def bm25_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 as an INGESTION-TIME router — the production mode: incoming
    batch documents (doc_id % BM25_BATCH_MOD == 0, the engine's batch
    convention) are scored against the STANDING index's statistics (df,
    N, avgdl — the persisted state a search pipeline keeps next to its
    index) and the standing corpus's query workload, without rescoring
    or even re-reading standing text at query time. Same exact-integer
    BM25 spec as text_bm25_search_topk; idf and avgdl come from standing
    stats only, dl from the incoming document itself. Top-k incoming
    docs per standing query = the routing/tagging decision an ingestion
    pipeline makes per batch.

    Scale shape: the token stream is materialized once (stats-clean
    checkpoint — it feeds the standing stats AND the batch side); the
    standing df build is the index-maintenance pass (∝ standing, run
    once and persisted in production); batch scoring is broadcast-join
    ∝ batch hits, batch dl a bounded per-doc window, ranking the salted
    two-phase top-k."""
    from pyspark.sql import Window

    from .dedup import _local_checkpoint_stats_clean

    d = _docs(spark, sf_dir)
    in_batch = F.col("doc_id") % BM25_BATCH_MOD == 0
    toks = (
        d.select(
            "doc_id",
            in_batch.alias("in_batch"),
            F.explode(F.split(_norm_col(), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
        .repartition("doc_id")
    )
    toks = _local_checkpoint_stats_clean(toks, eager=False)
    st = toks.filter(~F.col("in_batch"))
    df_st = (
        st.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    stats = (
        d.filter(~in_batch)
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(st.agg(F.count(F.lit(1)).alias("t_tokens")))
        .select("n_docs", F.expr("t_tokens DIV n_docs").alias("avgdl"))
    )
    tfb = (
        toks.filter("in_batch")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tfdl = tfb.withColumn("dl", F.sum("tf").over(Window.partitionBy("doc_id")))
    return bm25_score_with_stats(tfdl, df_st, stats)


def bm25_batch_tfdl(batch: DataFrame) -> DataFrame:
    """(doc_id, term, tf, dl) for one document batch — the per-batch half
    of the BM25 ingestion screen, shared with the streaming fold.

    r14: ``dl`` (the doc's token count) is a scan-side projection of the
    token array — size(filter(tokens, <> '')) — carried through the tf
    groupBy as a grouping key (functionally dependent on doc_id), which
    is bit-identical to the replaced sum(tf)-over-doc window: dl = total
    non-empty tokens = Σ tf. One map-side-combined exchange replaces
    repartition(doc_id) + groupBy + window sort, and the shuffle carries
    per-(doc, term) partial counts instead of one row per token
    instance (guide §2.3 'aggregate before you shuffle', §2.4)."""
    base = batch.select(
        "doc_id",
        F.filter(F.split(_norm_col(), " "), lambda t: t != "").alias("t"),
    )
    toks = base.select(
        "doc_id", F.size("t").cast("long").alias("dl"), F.explode("t").alias("term")
    )
    return (
        toks.groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select("doc_id", "term", "tf", "dl")
    )


def bm25_score_with_stats(
    tfdl: DataFrame, df_st: DataFrame, stats: DataFrame
) -> DataFrame:
    """Score a batch's (doc_id, term, tf, dl) postings against STANDING
    index statistics — df table + one (n_docs, avgdl) row — with the
    exact-integer BM25 spec; the standing df ranking also derives the
    query workload. Shared by text_bm25_incremental and the streaming
    fold so the semantics cannot silently diverge."""
    from pyspark.sql import Window

    from .ranking import scalable_topk_per_group

    n_terms = SEARCH_N_QUERIES * SEARCH_TERMS_PER_QUERY
    head = df_st.orderBy(F.desc("df"), "term").limit(SEARCH_SKIP_TOP + n_terms)
    ranked = head.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("df"), "term"))
    )
    qt = ranked.filter(F.col("r") > SEARCH_SKIP_TOP).select(
        ((F.col("r") - SEARCH_SKIP_TOP - 1) % SEARCH_N_QUERIES)
        .cast("long")
        .alias("query_id"),
        "term",
        "df",
    )
    idf = _bits(F.col("n_docs")) - _bits(F.col("df"))
    num = idf * F.lit(22) * F.col("tf") * F.col("avgdl") * F.lit(BM25_SCALE)
    den = (
        F.lit(10) * F.col("avgdl") * F.col("tf")
        + F.lit(3) * F.col("avgdl")
        + F.lit(9) * F.col("dl")
    )
    scored = (
        tfdl.join(F.broadcast(qt), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("bm25_num", num)
        .withColumn("bm25_den", den)
        .withColumn("tscore", F.expr("bm25_num DIV bm25_den"))
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("tscore").cast("long").alias("score_scaled"),
            F.count(F.lit(1)).alias("n_hit_terms"),
        )
    )
    top = scalable_topk_per_group(
        scored,
        ["query_id"],
        [F.desc("score_scaled"), F.asc("doc_id")],
        SEARCH_TOP_K,
        salt_on="doc_id",
    )
    return top.select(
        "query_id",
        "rank",
        "doc_id",
        F.col("score_scaled").cast("long").alias("score_scaled"),
        (F.col("score_scaled").cast("double") / F.lit(float(BM25_SCALE))).alias(
            "score"
        ),
        F.col("n_hit_terms").cast("long").alias("n_hit_terms"),
    )


def _bm25_split_sql(batch_cond: str) -> str:
    """The standing-statistics BM25 screen over an arbitrary batch/
    standing split of ``documents`` — shared by text_bm25_incremental
    (doc_id % BM25_BATCH_MOD = 0) and the streaming-fold registry entry
    (the even/odd epoch split), so the two oracles cannot diverge."""
    return f"""
WITH toks AS (
  SELECT doc_id, {batch_cond} AS in_batch,
         unnest(string_split({_NORM_SQL}, ' ')) AS term
  FROM documents
),
t AS (SELECT doc_id, in_batch, term FROM toks WHERE term <> ''),
st AS (SELECT doc_id, term FROM t WHERE NOT in_batch),
df AS (
  SELECT term, COUNT(*) AS df
  FROM (SELECT DISTINCT doc_id, term FROM st) GROUP BY term
),
stx AS (
  SELECT (SELECT COUNT(*) FROM documents WHERE NOT ({batch_cond})) AS n_docs,
         (SELECT COUNT(*) FROM st)
           // (SELECT COUNT(*) FROM documents WHERE NOT ({batch_cond})) AS avgdl
),
ranked AS (
  SELECT term, df, row_number() OVER (ORDER BY df DESC, term) AS r FROM df
),
qt AS (
  SELECT (r - {SEARCH_SKIP_TOP} - 1) % {SEARCH_N_QUERIES} AS query_id, term, df
  FROM ranked
  WHERE r > {SEARCH_SKIP_TOP}
    AND r <= {SEARCH_SKIP_TOP + SEARCH_N_QUERIES * SEARCH_TERMS_PER_QUERY}
),
tfb AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM t WHERE in_batch GROUP BY doc_id, term
),
tfdl AS (SELECT *, SUM(tf) OVER (PARTITION BY doc_id) AS dl FROM tfb),
sc AS (
  SELECT qt.query_id, tfdl.doc_id,
         SUM(((len(printf('%b', stx.n_docs)) - len(printf('%b', qt.df)))
              * 22 * tfdl.tf * stx.avgdl * {BM25_SCALE})
             // (10 * stx.avgdl * tfdl.tf + 3 * stx.avgdl + 9 * tfdl.dl))
           AS score_scaled,
         COUNT(*) AS n_hit_terms
  FROM tfdl JOIN qt USING (term) CROSS JOIN stx
  GROUP BY qt.query_id, tfdl.doc_id
),
rk AS (
  SELECT query_id, doc_id, score_scaled, n_hit_terms,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_scaled DESC, doc_id) AS rank
  FROM sc
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(rank AS BIGINT) AS rank,
       doc_id,
       CAST(score_scaled AS BIGINT) AS score_scaled,
       CAST(score_scaled AS DOUBLE) / {float(BM25_SCALE)} AS score,
       CAST(n_hit_terms AS BIGINT) AS n_hit_terms
FROM rk WHERE rank <= {SEARCH_TOP_K}
"""


BM25_INCR_SQL = _bm25_split_sql(f"doc_id % {BM25_BATCH_MOD} = 0")

registry.register("text_bm25_incremental", bm25_incremental, BM25_INCR_SQL)


# --- Hybrid retrieval: reciprocal-rank fusion ------------------------------
#
# Real retrieval stacks fuse rankers (lexical + semantic, or two lexical
# scorers with different length biases) with RRF (Cormack et al. 2009):
#   rrf(d, q) = Σ_r 1 / (K + rank_r(d, q)),  K = 60,
# summed over the rankers that returned d in their top-k (a missing doc
# contributes nothing). Hash-portable by construction: each contribution
# is ONE IEEE division of integers and the sum is two doubles added in a
# fixed expression order, identical in Spark and DuckDB.
RRF_K = 60


def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF fusion of the BM25 and tf·idf keyword rankers over the same
    corpus-derived 8-query workload — the hybrid-retrieval shape.

    Scale shape: the two rankers do the corpus-sized work (each already
    plan-disciplined); the fusion itself is a FULL OUTER join of two
    (8 queries × top-10) result sets — ≤160 rows — and a bounded
    per-query window. Nothing corpus-sized is added."""
    from pyspark.sql import Window

    b = bm25_search_topk(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rank").alias("bm25_rank")
    )
    k = keyword_search_topk(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rank").alias("kw_rank")
    )
    fused = b.join(k, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        "bm25_rank",
        "kw_rank",
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("bm25_rank")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("kw_rank")), F.lit(0.0)
            )
        ).alias("rrf_score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= SEARCH_TOP_K)
        .select("query_id", "rank", "doc_id", "rrf_score", "bm25_rank", "kw_rank")
    )


HYBRID_RRF_SQL = f"""
WITH b AS ({BM25_SEARCH_SQL}),
k AS ({KEYWORD_SEARCH_SQL}),
fused AS (
  SELECT COALESCE(b.query_id, k.query_id) AS query_id,
         COALESCE(b.doc_id, k.doc_id) AS doc_id,
         b.rank AS bm25_rank, k.rank AS kw_rank,
         COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + b.rank), CAST(0.0 AS DOUBLE))
           + COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + k.rank), CAST(0.0 AS DOUBLE))
           AS rrf_score
  FROM b FULL OUTER JOIN k
    ON b.query_id = k.query_id AND b.doc_id = k.doc_id
),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf_score DESC, doc_id) AS rank
  FROM fused
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(rank AS BIGINT) AS rank,
       doc_id,
       CAST(rrf_score AS DOUBLE) AS rrf_score,
       CAST(bm25_rank AS BIGINT) AS bm25_rank,
       CAST(kw_rank AS BIGINT) AS kw_rank
FROM rk WHERE rank <= {SEARCH_TOP_K}
"""

registry.register("text_hybrid_rrf_topk", hybrid_rrf_topk, HYBRID_RRF_SQL)


# --- Cross-modal hybrid retrieval: BM25 + dense embedding leg -------------
#
# The retrieval shape a real RAG / training-data pipeline runs: a lexical
# ranker and a dense (embedding) ranker fused by RRF (VERDICT r11 #3).
# The corpus-derived BM25 query workload has no embedding of its own, so
# the dense query is built by PSEUDO-RELEVANCE FEEDBACK (Rocchio, 1971):
# each query's dense representation is the exact INTEGER sum of the
# quantized embeddings of its BM25 top-k documents, joined on the
# vec_id ≡ doc_id alignment convention (sim_semantic_text_neardup's).
# Deterministic end-to-end: centroids are bounded exact-integer sums
# (coords ≤ k·QUANT ≈ 2^17, centroid norm ≤ 2^40, corpus dot ≤ 2^36 —
# int64 everywhere at any corpus size, since k is a workload constant);
# the dense cosine is the engine's ONE fixed-order float64 expression
# with the pca_rerank zero-denominator pin (-2.0); RRF contributions are
# single IEEE divisions summed in fixed order.


def _rocchio_block(spark: SparkSession, sf_dir: str):
    """(qids, cm, cnorm, bc) for the pseudo-relevance-feedback query
    centroids, or None when no BM25 top-k doc has an embedding —
    memoized per (session, sf_dir) like similarity._query_block: the
    block is deterministic standing state derived from the memoized BM25
    result, so each session pays its bounded |queries|×64 collect and
    its broadcast exactly once. bc ships (qids, cm, cnorm)."""
    return memo.cached(spark, "search", ("rocchio", sf_dir), lambda: _rocchio_build(spark, sf_dir))


def _rocchio_build(spark: SparkSession, sf_dir: str):
    import numpy as np

    from .similarity import _emb, _quantized

    b = bm25_search_topk(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rank").alias("bm25_rank")
    )
    e = _quantized(_emb(spark, sf_dir))
    members = F.broadcast(b).join(
        e.select(F.col("vec_id").alias("doc_id"), "q"), "doc_id"
    )
    cent = (
        members.select("query_id", F.posexplode("q").alias("pos", "x"))
        .groupBy("query_id", "pos")
        .agg(F.sum("x").alias("s"))
    )
    cpdf = cent.toPandas()  # bounded: |queries| × 64 rows
    if cpdf.empty:
        return None
    qids = np.sort(cpdf["query_id"].unique()).astype(np.int64)
    dims = int(cpdf["pos"].max()) + 1
    cm = np.zeros((len(qids), dims), dtype=np.int64)
    qpos = {int(q): i for i, q in enumerate(qids)}
    cm[
        cpdf["query_id"].map(qpos).to_numpy(np.int64),
        cpdf["pos"].to_numpy(np.int64),
    ] = cpdf["s"].to_numpy(np.int64)
    cnorm = (cm * cm).sum(axis=1)  # exact int64 (≤ 64·(k·QUANT)² ≈ 2^40)
    bc = spark.sparkContext.broadcast((qids, cm, cnorm))
    return qids, cm, cnorm, bc


def hybrid_dense_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 + pseudo-relevance-feedback dense retrieval, RRF-fused.

    Scale shape: the BM25 leg is the already-disciplined corpus pass;
    the centroid build joins ≤ |queries|·k result rows against the
    embeddings (broadcast the ≤80-row result side) and reduces to
    |queries|×64 integer sums (bounded driver collect); the dense leg is
    ONE Arrow-batched corpus scan against the broadcast centroid matrix
    (int64 matmul), emitting ≤ |queries|·k rows per batch (per-batch
    exact top-k — the global top-k is contained in the union of
    per-batch top-ks), globally ranked by the salted two-phase kernel;
    the fusion is a full-outer join of two ≤ |queries|·k result sets."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from .ranking import scalable_topk_per_group
    from .similarity import _emb, _quantized

    # The BM25 result is the memoized checkpointed search table (it
    # feeds the fusion here AND the Rocchio centroid build); the Rocchio
    # block is the memoized driver-side query state — ONE collect + ONE
    # broadcast per session (VERDICT r13 #4, the _query_block pattern).
    b = bm25_search_topk(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rank").alias("bm25_rank")
    )
    block = _rocchio_block(spark, sf_dir)
    if block is None:
        # No BM25 top-k doc has an embedding (or the BM25 leg itself is
        # empty): skip the dense leg and fuse the BM25 ranking alone with
        # emb_rank null — the oracle's full-outer-join semantics, which
        # still emit the BM25-only fused result (ADVICE r12 #1).
        dense = spark.createDataFrame([], "query_id long, doc_id long, emb_rank long")
        return _hybrid_fuse(b, dense)
    _qids, _cm, _cnorm, bc = block
    e = _quantized(_emb(spark, sf_dir))
    k = SEARCH_TOP_K

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, cm_, cn_ = bc.value
        croot = np.sqrt(cn_.astype(np.float64))
        for pdf in it:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy(np.int64)
            qm = np.vstack(pdf["q"].values).astype(np.int64)
            nb = pdf["norm_sq"].to_numpy(np.int64).astype(np.float64)
            dot = (qm @ cm_.T).astype(np.float64)  # exact int64 → double
            # fixed-order: sqrt(cn)·sqrt(norm_sq), then divide — the
            # oracle replays this expression verbatim
            den = np.sqrt(nb)[:, None] * croot[None, :]
            cos = np.where(den == 0.0, -2.0, dot / np.where(den == 0.0, 1.0, den))
            out_q, out_d, out_c = [], [], []
            for j in range(len(qids_)):
                order = np.lexsort((ids, -cos[:, j]))[:k]
                out_q.append(np.full(len(order), qids_[j], dtype=np.int64))
                out_d.append(ids[order])
                out_c.append(cos[order, j])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "doc_id": np.concatenate(out_d),
                    "cosine": np.concatenate(out_c),
                }
            )

    partials = e.select("vec_id", "q", "norm_sq").mapInPandas(
        batches, "query_id long, doc_id long, cosine double"
    )
    dense = scalable_topk_per_group(
        partials,
        ["query_id"],
        [F.desc("cosine"), F.asc("doc_id")],
        k,
        salt_on="doc_id",
        rank_col="emb_rank",
    ).select("query_id", "doc_id", "emb_rank")
    return _hybrid_fuse(b, dense)


def _hybrid_fuse(b: DataFrame, dense: DataFrame) -> DataFrame:
    """RRF fusion of the BM25 and dense result sets (each ≤ |queries|·k
    rows — the per-query window below is bounded, never corpus-sized)."""
    fused = b.join(dense, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        "bm25_rank",
        "emb_rank",
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("bm25_rank")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("emb_rank")), F.lit(0.0)
            )
        ).alias("rrf_score"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= SEARCH_TOP_K)
        .select("query_id", "rank", "doc_id", "rrf_score", "bm25_rank", "emb_rank")
    )


def _hybrid_dense_sql() -> str:
    from .similarity import _NORM_SQL as _VEC_NORM_SQL
    from .similarity import _QUANT_SQL as _VEC_QUANT_SQL

    return f"""
WITH b AS ({BM25_SEARCH_SQL}),
quant AS ({_VEC_QUANT_SQL}),
normed AS MATERIALIZED ({_VEC_NORM_SQL}),
cent AS (
  SELECT query_id, i, SUM(v) AS s
  FROM (SELECT b.query_id, unnest(n.q) AS v,
               unnest(range(1, len(n.q) + 1)) AS i
        FROM b JOIN normed n ON n.vec_id = b.doc_id)
  GROUP BY query_id, i
),
cvec AS (
  SELECT query_id,
         list(s ORDER BY i) AS cq,
         list_sum(list_transform(list(s ORDER BY i), x -> x * x)) AS cn
  FROM cent GROUP BY query_id
),
dsc AS (
  SELECT c.query_id, n.vec_id AS doc_id,
         CASE WHEN sqrt(CAST(n.norm_sq AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE)) = 0.0
              THEN -2.0
              ELSE CAST(list_sum(list_transform(list_zip(c.cq, n.q), p -> p[1] * p[2])) AS DOUBLE)
                / (sqrt(CAST(n.norm_sq AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE)))
         END AS cosine
  FROM cvec c, normed n
),
d AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, doc_id) AS emb_rank
  FROM dsc
  QUALIFY emb_rank <= {SEARCH_TOP_K}
),
fused AS (
  SELECT COALESCE(b.query_id, d.query_id) AS query_id,
         COALESCE(b.doc_id, d.doc_id) AS doc_id,
         b.rank AS bm25_rank, d.emb_rank,
         COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + b.rank), CAST(0.0 AS DOUBLE))
           + COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + d.emb_rank), CAST(0.0 AS DOUBLE))
           AS rrf_score
  FROM b FULL OUTER JOIN d
    ON b.query_id = d.query_id AND b.doc_id = d.doc_id
),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf_score DESC, doc_id) AS rank
  FROM fused
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(rank AS BIGINT) AS rank,
       doc_id,
       CAST(rrf_score AS DOUBLE) AS rrf_score,
       CAST(bm25_rank AS BIGINT) AS bm25_rank,
       CAST(emb_rank AS BIGINT) AS emb_rank
FROM rk WHERE rank <= {SEARCH_TOP_K}
"""


# lazy: _hybrid_dense_sql imports similarity (cycle-breaking, see registry)
registry.register("text_hybrid_dense_topk", hybrid_dense_topk, _hybrid_dense_sql)


# --- DSIR importance resampling --------------------------------------------

DSIR_BUCKETS = 1024


def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023) in the
    exact-integer discipline: score raw documents by how much they look
    like a TARGET distribution in a hashed n-gram feature space, then
    keep the top quartile — the pretraining-data selection pass that
    upweights target-domain-like text without a trained model.

    Target here is the corpus's most frequent language (deterministic:
    count DESC, lang ASC); features are unigrams + adjacent bigrams
    hashed into DSIR_BUCKETS md5 buckets (the text_hash_classifier
    mechanism). Per bucket, the importance weight is the floor-log2
    likelihood ratio — bits(tgt_c+1) − bits(raw_c+1) + bits(T_raw) −
    bits(T_tgt) (add-one smoothing; the total-count terms normalize the
    distributions) — and a document's score is the sum of its feature
    instances' bucket weights: pure BIGINT, hash-portable. The resample
    is the top ntile quartile by (score DESC, doc_id).

    Scale shape: one explode pass; bucket stats are a 1024-row aggregate
    (map-side-combinable, broadcast back); the scoring join shuffles
    ∝ feature instances (the LM-scoring join, as unigram_surprisal);
    quartiles via scalable_ntile's range-partitioned global rank — no
    single-partition window anywhere."""
    from .ranking import scalable_ntile

    d = _docs(spark, sf_dir)
    tgt = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "lang")
        .limit(1)
        .select(F.col("lang").alias("tgt_lang"))
    )
    toks = F.filter(F.split(_norm_col(), " "), lambda t: t != "")
    bis = _adjacent_bigrams(F.col("toks"))
    feats = d.select("doc_id", "lang", toks.alias("toks")).select(
        "doc_id", "lang", F.concat(F.col("toks"), bis).alias("feats")
    )
    fx = feats.select(
        "doc_id",
        "lang",
        F.explode("feats").alias("ft"),
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("dsir:"), F.col("ft"))), 1, 8),
                16,
                10,
            ).cast("long")
            % DSIR_BUCKETS
        ).alias("bucket"),
    ).crossJoin(F.broadcast(tgt))
    # Materialized ONCE: fx feeds the bucket stats AND the scoring join —
    # without the cut the tokenize+md5 explode chain executed per
    # consumer (the 100× probe measured 347 s; one evaluation is the
    # whole point of "one explode pass"). Stats-clean like every other
    # corpus-proportional memo.
    from .dedup import _local_checkpoint_stats_clean

    fx = _local_checkpoint_stats_clean(fx, eager=False)
    is_tgt = F.when(F.col("lang") == F.col("tgt_lang"), 1).otherwise(0)
    bs = fx.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("raw_c"), F.sum(is_tgt).alias("tgt_c")
    )
    # Global totals are the bucket stats summed — a 1024-row aggregate,
    # not a second corpus pass (identical integers by construction).
    tot = bs.agg(
        F.sum("raw_c").alias("t_raw"), F.sum("tgt_c").alias("t_tgt")
    )
    w = bs.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            _bits(F.col("tgt_c") + 1)
            - _bits(F.col("raw_c") + 1)
            + _bits(F.col("t_raw"))
            - _bits(F.col("t_tgt"))
        ).alias("w_bits"),
    )
    ds = (
        fx.join(w, "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("w_bits").alias("score_bits"),
            F.count(F.lit(1)).alias("n_features"),
        )
    )
    alls = (
        d.select("doc_id", "lang")
        .join(ds, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("n_features", F.lit(0)).cast("long").alias("n_features"),
            F.coalesce("score_bits", F.lit(0)).cast("long").alias("score_bits"),
        )
    )
    q = scalable_ntile(
        alls, [F.desc("score_bits"), F.asc("doc_id")], 4, bucket_col="quartile"
    )
    return q.select(
        "doc_id",
        "lang",
        "n_features",
        "score_bits",
        "quartile",
        (F.col("quartile") == 1).alias("selected"),
    )


DSIR_SQL = f"""
WITH dd AS (
  SELECT doc_id, lang,
         list_filter(string_split({_NORM_SQL}, ' '), t -> t <> '') AS toks
  FROM documents
),
f AS (
  SELECT doc_id, lang,
         list_concat(
           toks,
           CASE WHEN len(toks) >= 2
                THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
                ELSE [] END) AS feats
  FROM dd
),
tl AS (
  SELECT lang AS tgt_lang
  FROM (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
        ORDER BY n DESC, lang LIMIT 1)
),
fx AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5('dsir:' || unnest(feats)), 1, 8)) AS BIGINT)
           % {DSIR_BUCKETS} AS bucket
  FROM f
),
bs AS (
  SELECT bucket, COUNT(*) AS raw_c,
         SUM(CASE WHEN lang = (SELECT tgt_lang FROM tl) THEN 1 ELSE 0 END) AS tgt_c
  FROM fx GROUP BY bucket
),
tot AS (
  SELECT COUNT(*) AS t_raw,
         SUM(CASE WHEN lang = (SELECT tgt_lang FROM tl) THEN 1 ELSE 0 END) AS t_tgt
  FROM fx
),
w AS (
  SELECT bucket,
         len(printf('%b', CAST(tgt_c + 1 AS BIGINT)))
           - len(printf('%b', CAST(raw_c + 1 AS BIGINT)))
           + len(printf('%b', CAST(t_raw AS BIGINT)))
           - len(printf('%b', CAST(t_tgt AS BIGINT))) AS w_bits
  FROM bs CROSS JOIN tot
),
ds AS (
  SELECT fx.doc_id, SUM(w.w_bits) AS score_bits, COUNT(*) AS n_features
  FROM fx JOIN w USING (bucket) GROUP BY fx.doc_id
),
alls AS (
  SELECT d0.doc_id, d0.lang,
         COALESCE(ds.n_features, 0) AS n_features,
         COALESCE(ds.score_bits, 0) AS score_bits
  FROM documents d0 LEFT JOIN ds USING (doc_id)
),
q AS (
  SELECT *, ntile(4) OVER (ORDER BY score_bits DESC, doc_id) AS quartile
  FROM alls
)
SELECT doc_id, lang,
       CAST(n_features AS BIGINT) AS n_features,
       CAST(score_bits AS BIGINT) AS score_bits,
       CAST(quartile AS BIGINT) AS quartile,
       quartile = 1 AS selected
FROM q
"""

registry.register("docs_dsir_importance", dsir_importance, DSIR_SQL)


def lang_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language — the tokenizer-budget metric
    multilingual pretraining planning runs first (how many subword-ish
    tokens a language costs per whitespace word / per character decides
    its effective context length and compute share). Per lang:
    documents, whitespace words, BPE-style pre-tokens (the _BPE_RE
    letter-run/digit/punct splitter text_bpe_* tokenizes with), chars;
    fertility = pre-tokens per word and chars per pre-token, each ONE
    IEEE division over exact integer sums (hash-portable).

    Scale shape: pure scan + one lang-keyed aggregate; counts come from
    array sizes (regexp_extract_all / split inside the row — whole-stage
    codegen, zero joins), partials merge map-side. Grouping key
    cardinality = languages, a data constant."""
    d = _docs(spark, sf_dir)
    norm = _norm_col()
    words = F.size(F.filter(F.split(norm, " "), lambda t: t != ""))
    pretoks = F.size(F.expr(f"regexp_extract_all({_NORM_SQL_SPARK}, '{_BPE_RE}', 0)"))
    chars = F.length(norm)
    per_doc = d.select(
        "lang",
        words.alias("w"),
        pretoks.alias("p"),
        chars.alias("c"),
    )
    agg = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w").alias("total_words"),
        F.sum("p").alias("total_pretokens"),
        F.sum("c").alias("total_chars"),
    )
    return agg.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_words").cast("long").alias("total_words"),
        F.col("total_pretokens").cast("long").alias("total_pretokens"),
        F.col("total_chars").cast("long").alias("total_chars"),
        F.when(
            F.col("total_words") > 0,
            F.col("total_pretokens").cast("double") / F.col("total_words"),
        ).otherwise(F.lit(0.0)).alias("tokens_per_word"),
        F.when(
            F.col("total_pretokens") > 0,
            F.col("total_chars").cast("double") / F.col("total_pretokens"),
        ).otherwise(F.lit(0.0)).alias("chars_per_token"),
    )


# Spark-side twin of _NORM_SQL for use inside F.expr strings.
_NORM_SQL_SPARK = r"trim(regexp_replace(lower(text), '\\s+', ' '))"


LANG_FERTILITY_SQL = f"""
WITH per_doc AS (
  SELECT lang,
         len(list_filter(string_split({_NORM_SQL}, ' '), t -> t <> '')) AS w,
         len(regexp_extract_all({_NORM_SQL}, '{_BPE_RE}')) AS p,
         len({_NORM_SQL}) AS c
  FROM documents
),
agg AS (
  SELECT lang, COUNT(*) AS n_docs, SUM(w) AS total_words,
         SUM(p) AS total_pretokens, SUM(c) AS total_chars
  FROM per_doc GROUP BY lang
)
SELECT lang,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(total_words AS BIGINT) AS total_words,
       CAST(total_pretokens AS BIGINT) AS total_pretokens,
       CAST(total_chars AS BIGINT) AS total_chars,
       CASE WHEN total_words > 0
            THEN CAST(total_pretokens AS DOUBLE) / total_words
            ELSE 0.0 END AS tokens_per_word,
       CASE WHEN total_pretokens > 0
            THEN CAST(total_chars AS DOUBLE) / total_pretokens
            ELSE 0.0 END AS chars_per_token
FROM agg
"""

registry.register("docs_lang_token_fertility", lang_token_fertility, LANG_FERTILITY_SQL)


DSIR_BATCH_MOD = 5  # doc_id % 5 == 0 plays the incoming crawl batch


def dsir_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR as an INGESTION-TIME screen — the production mode: incoming
    batch documents (doc_id % DSIR_BATCH_MOD == 0) score against the
    STANDING corpus's persisted bucket statistics, never re-touching
    standing text. Target = the standing corpus's most frequent
    language; weights are the same floor-log2 likelihood ratios as
    docs_dsir_importance but computed from standing counts only, and a
    bucket the standing corpus never saw falls back to the pure
    smoothing weight (tgt_c = raw_c = 0 → bits(1) − bits(1) + the total
    normalizer). Scoring cost is ∝ batch; at 100 TB the 1024-row bucket
    table is persisted state merged per batch (the dedup_graph_
    incremental discipline), so the whole screen never rescans history.

    The oracle replays standing-stats derivation + batch scoring in SQL
    over the same partition, so the hash certifies both the screen and
    the statistics it consumes."""
    d = _docs(spark, sf_dir)
    in_batch = F.col("doc_id") % DSIR_BATCH_MOD == 0
    toks = F.filter(F.split(_norm_col(), " "), lambda t: t != "")
    bis = _adjacent_bigrams(F.col("toks"))
    fx = (
        d.select("doc_id", "lang", in_batch.alias("in_batch"), toks.alias("toks"))
        .select("doc_id", "lang", "in_batch", F.concat(F.col("toks"), bis).alias("feats"))
        .select("doc_id", "lang", "in_batch", F.explode("feats").alias("ft"))
        .select(
            "doc_id",
            "lang",
            "in_batch",
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.lit("dsir:"), F.col("ft"))), 1, 8),
                    16,
                    10,
                ).cast("long")
                % DSIR_BUCKETS
            ).alias("bucket"),
        )
    )
    # Materialized ONCE — fx feeds the standing stats AND the batch
    # scoring; the un-cut chain tokenized the corpus per consumer
    # (219 s at the 100× probe).
    from .dedup import _local_checkpoint_stats_clean

    fx = _local_checkpoint_stats_clean(fx, eager=False)
    standing = fx.filter(~F.col("in_batch"))
    tgt = (
        d.filter(~in_batch)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "lang")
        .limit(1)
        .select(F.col("lang").alias("tgt_lang"))
    )
    st = standing.crossJoin(F.broadcast(tgt))
    is_tgt = F.when(F.col("lang") == F.col("tgt_lang"), 1).otherwise(0)
    bs = st.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("raw_c"), F.sum(is_tgt).alias("tgt_c")
    )
    # Totals from the 1024-row stats, not a second standing pass.
    tot = bs.agg(
        F.sum("raw_c").alias("t_raw"), F.sum("tgt_c").alias("t_tgt")
    )
    batch = fx.filter("in_batch").join(bs, "bucket", "left").crossJoin(
        F.broadcast(tot)
    )
    w_bits = (
        _bits(F.coalesce(F.col("tgt_c"), F.lit(0)) + 1)
        - _bits(F.coalesce(F.col("raw_c"), F.lit(0)) + 1)
        + _bits(F.col("t_raw"))
        - _bits(F.col("t_tgt"))
    )
    return (
        batch.groupBy("doc_id")
        .agg(
            F.sum(w_bits).alias("score_bits"),
            F.count(F.lit(1)).alias("n_features"),
        )
        .select(
            "doc_id",
            F.col("n_features").cast("long").alias("n_features"),
            F.col("score_bits").cast("long").alias("score_bits"),
        )
    )


def _dsir_split_sql(batch_cond: str) -> str:
    """The standing-statistics DSIR screen over an arbitrary batch/
    standing split of ``documents`` — shared by docs_dsir_incremental
    (doc_id % DSIR_BATCH_MOD = 0) and the streaming-fold registry entry
    (the even/odd epoch split), so the two oracles cannot diverge."""
    return f"""
WITH dd AS (
  SELECT doc_id, lang, {batch_cond} AS in_batch,
         list_filter(string_split({_NORM_SQL}, ' '), t -> t <> '') AS toks
  FROM documents
),
f AS (
  SELECT doc_id, lang, in_batch,
         list_concat(
           toks,
           CASE WHEN len(toks) >= 2
                THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
                ELSE [] END) AS feats
  FROM dd
),
fx AS (
  SELECT doc_id, lang, in_batch,
         CAST(('0x' || substr(md5('dsir:' || unnest(feats)), 1, 8)) AS BIGINT)
           % {DSIR_BUCKETS} AS bucket
  FROM f
),
tl AS (
  SELECT lang AS tgt_lang
  FROM (SELECT lang, COUNT(*) AS n FROM documents
        WHERE NOT ({batch_cond}) GROUP BY lang
        ORDER BY n DESC, lang LIMIT 1)
),
bs AS (
  SELECT bucket, COUNT(*) AS raw_c,
         SUM(CASE WHEN lang = (SELECT tgt_lang FROM tl) THEN 1 ELSE 0 END) AS tgt_c
  FROM fx WHERE NOT in_batch GROUP BY bucket
),
tot AS (
  SELECT COUNT(*) AS t_raw,
         SUM(CASE WHEN lang = (SELECT tgt_lang FROM tl) THEN 1 ELSE 0 END) AS t_tgt
  FROM fx WHERE NOT in_batch
),
sc AS (
  SELECT fx.doc_id,
         len(printf('%b', CAST(COALESCE(bs.tgt_c, 0) + 1 AS BIGINT)))
           - len(printf('%b', CAST(COALESCE(bs.raw_c, 0) + 1 AS BIGINT)))
           + len(printf('%b', CAST(tot.t_raw AS BIGINT)))
           - len(printf('%b', CAST(tot.t_tgt AS BIGINT))) AS w_bits
  FROM fx LEFT JOIN bs USING (bucket) CROSS JOIN tot
  WHERE fx.in_batch
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_features,
       CAST(SUM(w_bits) AS BIGINT) AS score_bits
FROM sc GROUP BY doc_id
"""


DSIR_INCR_SQL = _dsir_split_sql(f"doc_id % {DSIR_BATCH_MOD} = 0")

registry.register("docs_dsir_incremental", dsir_incremental, DSIR_INCR_SQL)


def dsir_fx(d: DataFrame) -> DataFrame:
    """(doc_id, lang, bucket) hashed feature instances of a
    (doc_id, lang, text) frame — the shared DSIR front end used by the
    batch entries above and the streaming fold
    (streaming/dsir_stream.py)."""
    toks = F.filter(F.split(_norm_col(), " "), lambda t: t != "")
    bis = _adjacent_bigrams(F.col("toks"))
    return (
        d.select("doc_id", "lang", toks.alias("toks"))
        .select("doc_id", "lang", F.concat(F.col("toks"), bis).alias("feats"))
        .select("doc_id", "lang", F.explode("feats").alias("ft"))
        .select(
            "doc_id",
            "lang",
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.lit("dsir:"), F.col("ft"))), 1, 8),
                    16,
                    10,
                ).cast("long")
                % DSIR_BUCKETS
            ).alias("bucket"),
        )
    )


def dsir_score_with_stats(
    fx_batch: DataFrame, stats: DataFrame, lang_totals: DataFrame
) -> DataFrame:
    """Score a batch's feature instances against PERSISTED standing
    statistics — the kernel the streaming fold runs per micro-batch.
    ``stats`` is the (bucket, lang, c) feature-instance count table,
    ``lang_totals`` the (lang, n) standing document counts that pick the
    target language (n DESC, lang ASC). Arithmetic is identical to
    docs_dsir_incremental: floor-log2 likelihood ratios with add-one
    smoothing and total normalization, unseen buckets falling back to
    the pure smoothing weight."""
    tgt = (
        lang_totals.orderBy(F.desc("n"), "lang")
        .limit(1)
        .select(F.col("lang").alias("tgt_lang"))
    )
    st = stats.crossJoin(F.broadcast(tgt))
    tgt_c = F.when(F.col("lang") == F.col("tgt_lang"), F.col("c")).otherwise(
        F.lit(0)
    )
    bs = st.groupBy("bucket").agg(
        F.sum("c").alias("raw_c"), F.sum(tgt_c).alias("tgt_c")
    )
    tot = st.agg(F.sum("c").alias("t_raw"), F.sum(tgt_c).alias("t_tgt"))
    scored = fx_batch.join(bs, "bucket", "left").crossJoin(F.broadcast(tot))
    w_bits = (
        _bits(F.coalesce(F.col("tgt_c"), F.lit(0)) + 1)
        - _bits(F.coalesce(F.col("raw_c"), F.lit(0)) + 1)
        + _bits(F.col("t_raw"))
        - _bits(F.col("t_tgt"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum(w_bits).alias("score_bits"),
            F.count(F.lit(1)).alias("n_features"),
        )
        .select(
            "doc_id",
            F.col("n_features").cast("long").alias("n_features"),
            F.col("score_bits").cast("long").alias("score_bits"),
        )
    )
