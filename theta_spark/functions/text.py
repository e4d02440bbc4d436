"""Text-analysis column functions for large-scale training-data pipelines:
language-ID heuristic, quality scoring, token counting, document
fingerprinting. All pure Spark column expressions (JVM-side, inside
whole-stage codegen) — no UDFs — with exact DuckDB-SQL twins in
theta_spark.queries for the driver differential.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# small embedded stopword list (shared literal with the SQL oracles)
EN_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]

# deliberately small class shared verbatim with the DuckDB oracle (Java
# regex and RE2 agree on it; quotes/brackets invite dialect drift)
PUNCT_CLASS = r"[.,;:!?]"


def tokens(col: Column) -> Column:
    """Whitespace tokenization of trimmed text (empty text -> empty array)."""
    return F.filter(F.split(F.trim(col), r"\s+"), lambda t: t != "")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish subword token estimate: word-piece regex `[A-Za-z0-9]{1,4}`
    plus single non-alnum-non-space marks — a deterministic stand-in for a
    real BPE vocab, counting max-4-char alnum chunks the way byte-pair
    merges bottom out on rare words."""
    return F.size(F.regexp_extract_all(col, F.lit(r"([A-Za-z0-9]{1,4}|[^A-Za-z0-9\s])"), 1))


def stopword_ratio(col: Column) -> Column:
    toks = tokens(F.lower(col))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    return F.when(F.size(toks) > 0, n_stop / F.size(toks)).otherwise(F.lit(0.0))


def punct_ratio(col: Column) -> Column:
    stripped = F.regexp_replace(col, PUNCT_CLASS, "")
    return F.when(
        F.length(col) > 0, (F.length(col) - F.length(stripped)) / F.length(col)
    ).otherwise(F.lit(0.0))


def mean_token_len(col: Column) -> Column:
    toks = tokens(col)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(col: Column) -> Column:
    """Composite quality in [0,1]: length band + stopword presence + sane
    punctuation + sane mean token length (heuristics in the C4/Gopher-rules
    family, expressed as one column formula)."""
    n = token_count(col)
    len_ok = F.when((n >= 10) & (n <= 100000), F.lit(1.0)).otherwise(F.lit(0.0))
    stop_ok = F.when(stopword_ratio(col) >= 0.05, F.lit(1.0)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(col) <= 0.2, F.lit(1.0)).otherwise(F.lit(0.0))
    mtl = mean_token_len(col)
    mtl_ok = F.when((mtl >= 2.0) & (mtl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    return (len_ok + stop_ok + punct_ok + mtl_ok) / 4.0


def ascii_letter_ratio(col: Column) -> Column:
    stripped = F.regexp_replace(col, r"[A-Za-z]", "")
    return F.when(
        F.length(col) > 0, (F.length(col) - F.length(stripped)) / F.length(col)
    ).otherwise(F.lit(0.0))


def lang_id(col: Column) -> Column:
    """Heuristic language ID: 'en' when ASCII-letter-dominant AND at least
    one top-English stopword occurs; 'other_latin' when merely
    ASCII-dominant; 'non_latin' otherwise. (An n-gram-profile classifier
    would slot in as a pandas UDF; the heuristic keeps the operator
    JVM-side and oracle-reproducible.)"""
    stop_hit = stopword_ratio(col) > 0
    asciiish = ascii_letter_ratio(col) >= 0.4
    return (
        F.when(asciiish & stop_hit, F.lit("en"))
        .when(asciiish, F.lit("other_latin"))
        .otherwise(F.lit("non_latin"))
    )


def fingerprint(col: Column, k: int = 8) -> Column:
    """Document fingerprint: min-hash over character k-gram shingles of the
    lowercased text (winnowing-style — robust to local edits, unlike a
    whole-text hash). md5-based so DuckDB reproduces it bit-for-bit."""
    lowered = F.lower(col)
    shingles = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(lowered) - (k - 1), F.lit(1))),
        lambda i: F.md5(lowered.substr(i, F.lit(k))),
    )
    return F.array_min(shingles)


def bm25_topk(df, query_terms: list[str], k: int = 10, k1: float = 1.2, b: float = 0.75,
              id_col: str = "doc_id", text_col: str = "text"):
    """Okapi BM25 (Lucene idf variant: ln(1 + (N - df + .5)/(df + .5)))
    relevance of every document against a fixed bag of `query_terms`,
    returning the top `k` by rounded score — the retrieval primitive of
    a training-data pipeline (query-biased corpus slicing, contamination
    sweeps against benchmark queries).

    Scale shape — the whole scorer is TWO jobs regardless of corpus size:
    (1) per-row term frequencies and doc length as pure column
    expressions over the token array (no explode, no per-term shuffle:
    tf_i = size(filter(tokens, = term_i)), inside whole-stage codegen);
    (2) ONE single-row global aggregate (N, avgdl, per-term document
    frequencies) broadcast back via a 1-row cross join. Scoring is then
    again per-row codegen arithmetic, and the top-k is a
    TakeOrderedAndProject (per-partition heads, no global sort). Nothing
    here is O(vocabulary) or O(terms x corpus) in shuffle volume.

    Determinism: the final ordering key is the ROUNDED score (6 dp) with
    id tiebreak, so last-ulp float drift between engines cannot flip the
    reported set.
    """
    toks = tokens(F.lower(F.col(text_col)))

    def _tf(term: str):
        # NB: F.filter treats a 2-arg lambda as (element, index) — bind the
        # term via a helper closure, not a lambda default
        return F.size(F.filter(toks, lambda t: t == term)).cast("double")

    row = df.select(
        F.col(id_col),
        F.size(toks).cast("double").alias("dl"),
        *[_tf(term).alias(f"tf{i}") for i, term in enumerate(query_terms)],
    )
    g = row.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0))
            .cast("double")
            .alias(f"df{i}")
            for i in range(len(query_terms))
        ],
    )
    scored = row.crossJoin(F.broadcast(g))
    score = None
    for i in range(len(query_terms)):
        idf = F.log(
            F.lit(1.0) + (F.col("n") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5)
        )
        part = idf * (
            F.col(f"tf{i}")
            * (k1 + 1.0)
            / (F.col(f"tf{i}") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
        )
        score = part if score is None else score + part
    out = scored.select(F.col(id_col), F.round(score, 6).alias("bm25"))
    return out.orderBy(F.desc("bm25"), id_col).limit(k)


def repetition_stats(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 2,
    dup_n: int = 5,
    top_max: tuple = (1, 5),     # top-n-gram char fraction <= 1/5 (Gopher 0.20)
    dup_max: tuple = (3, 20),    # dup-n-gram char fraction <= 3/20 (Gopher 0.15)
):
    """Gopher-style repetition quality stats per document (Rae et al. 2021
    §A1.1, word-n-gram form): `top{n}_frac` = characters covered by the
    single most frequent word-n-gram (count x gram length / total chars,
    ties broken by lexicographic gram so the stat is deterministic),
    `dup{n}_frac` = characters in word-n-grams occurring more than once,
    `dup_word_frac` = 1 - distinct/total words, and `rep_pass` = the
    filter verdict at the Gopher thresholds (top-2-gram 0.20, duplicate
    5-gram 0.15).

    Scale shape: per-doc gram counting is row-local, so the WHOLE operator
    is one narrow Arrow stage emitting integer counts — no explode, no
    shuffle, embarrassingly parallel at any corpus size. Division and
    rounding happen JVM-side (F.round, same half-up as the DuckDB oracle);
    the pass verdict is pure INTEGER arithmetic (count*denominator vs
    chars*numerator), immune to float-boundary drift. Tokenization is the
    shingle convention pinned by dd_ngram_jaccard: lowercase, trim, split
    on whitespace, drop empties."""
    import re
    from collections import Counter

    import pandas as pd
    from pyspark.sql import types as T

    id_field = df.schema[id_col]

    def gen(batches):
        ws = re.compile(r"\s+")
        for pdf in batches:
            out = {k: [] for k in ("id", "total_chars", "n_words", "n_distinct",
                                   "top_chars", "dup_chars")}
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                raw = text or ""
                toks = [t for t in ws.split(raw.strip().lower()) if t]
                grams_top = Counter(
                    " ".join(toks[i : i + top_n])
                    for i in range(len(toks) - top_n + 1)
                )
                if grams_top:
                    gram, cnt = min(grams_top.items(), key=lambda kv: (-kv[1], kv[0]))
                    top_chars = cnt * len(gram)
                else:
                    top_chars = 0
                grams_dup = Counter(
                    " ".join(toks[i : i + dup_n])
                    for i in range(len(toks) - dup_n + 1)
                )
                dup_chars = sum(c * len(g) for g, c in grams_dup.items() if c >= 2)
                out["id"].append(doc_id)
                out["total_chars"].append(len(raw))
                out["n_words"].append(len(toks))
                out["n_distinct"].append(len(set(toks)))
                out["top_chars"].append(top_chars)
                out["dup_chars"].append(dup_chars)
            yield pd.DataFrame(out)

    schema = T.StructType(
        [T.StructField("id", id_field.dataType)]
        + [T.StructField(c, T.LongType()) for c in
           ("total_chars", "n_words", "n_distinct", "top_chars", "dup_chars")]
    )
    counts = df.select(id_col, text_col).mapInPandas(gen, schema=schema)
    tc, nw = F.col("total_chars"), F.col("n_words")
    return counts.select(
        F.col("id").alias(id_col),
        nw.alias("n_words"),
        F.round(
            F.when(nw > 0, 1.0 - F.col("n_distinct") / nw).otherwise(F.lit(0.0)), 6
        ).alias("dup_word_frac"),
        F.round(
            F.when(tc > 0, F.col("top_chars") / tc).otherwise(F.lit(0.0)), 6
        ).alias(f"top{top_n}_frac"),
        F.round(
            F.when(tc > 0, F.col("dup_chars") / tc).otherwise(F.lit(0.0)), 6
        ).alias(f"dup{dup_n}_frac"),
        (
            (F.col("top_chars") * top_max[1] <= tc * top_max[0])
            & (F.col("dup_chars") * dup_max[1] <= tc * dup_max[0])
        ).cast("int").alias("rep_pass"),
    )


# PII patterns deliberately restricted to syntax Java regex and RE2
# (DuckDB) interpret identically: character classes, bounded repeats,
# \b word boundaries, greedy quantifiers — no lookaround, no backrefs.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_IDNUM = r"\b\d{9,19}\b"


def redact_pii(df, text_col: str = "text"):
    """PII scrub — the pre-training compliance sweep: count and mask
    emails, IPv4 addresses, and long id-like digit runs (9-19 digits:
    SSNs, account and card numbers). Sentinels <EMAIL>, <IP>, <ID> are
    applied in that order, and each count is taken on the text AS THE
    CORRESPONDING PASS SEES IT (email on the original, ipv4 on the
    email-masked text, idnum on the email+ip-masked text) — so every
    count equals the number of its sentinels in `redacted` and a digit
    run inside an email local-part is counted once as email, never
    again as an id.

    Scale shape: pure per-row column expressions (regexp_count /
    regexp_replace) — whole-stage codegen, no UDF, no shuffle; at
    100 TB this is scan-bound, exactly as a scrub should be."""
    c = F.col(text_col)
    after_email = F.regexp_replace(c, PII_EMAIL, "<EMAIL>")
    after_ip = F.regexp_replace(after_email, PII_IPV4, "<IP>")
    return df.withColumns(
        {
            "n_email": F.regexp_count(c, F.lit(PII_EMAIL)).cast("long"),
            "n_ipv4": F.regexp_count(after_email, F.lit(PII_IPV4)).cast("long"),
            "n_idnum": F.regexp_count(after_ip, F.lit(PII_IDNUM)).cast("long"),
            "redacted": F.regexp_replace(after_ip, PII_IDNUM, "<ID>"),
        }
    )
