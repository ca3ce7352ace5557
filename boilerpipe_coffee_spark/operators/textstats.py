"""Text analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.  Each is a
(Spark, DuckDB-oracle) pair over the ``documents`` table with
bit-identical md5-derived hashing.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import TOKENS as _TOKENS
from ..functions import TOKENS_DUCK as _TOKENS_DUCK
from ..functions import doc_id_sql_type, doc_stage, tokens
from .scanspread import read_table

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with", "for", "a"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "ich"],
    "fr": ["le", "la", "les", "et", "est", "pas", "avec", "un", "une", "je"],
}


def _arr_lit(words):
    return "array(" + ", ".join(f"'{w}'" for w in words) + ")"


def _list_lit(words):
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def lang_id(spark, sf_dir):
    """n-gram/stopword heuristic language ID: distinct-token hits per
    language list, argmax with deterministic tie order en > de > fr."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.expr(f"array_distinct({_TOKENS})")
    hits = {
        lang: F.size(F.array_intersect(toks, F.expr(_arr_lit(words))))
        for lang, words in STOPWORDS.items()
    }
    guess = (
        F.when(
            (hits["en"] >= hits["de"]) & (hits["en"] >= hits["fr"]), F.lit("en")
        )
        .when(hits["de"] >= hits["fr"], F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return docs.select(
        "doc_id",
        hits["en"].alias("en_hits"),
        hits["de"].alias("de_hits"),
        hits["fr"].alias("fr_hits"),
        guess.alias("lang_guess"),
    ).orderBy("doc_id")


LANG_ID_SQL = f"""
WITH t AS (
  SELECT doc_id, list_distinct({_TOKENS_DUCK}) AS toks FROM documents
), h AS (
  SELECT doc_id,
         len(list_intersect(toks, {_list_lit(STOPWORDS['en'])})) AS en_hits,
         len(list_intersect(toks, {_list_lit(STOPWORDS['de'])})) AS de_hits,
         len(list_intersect(toks, {_list_lit(STOPWORDS['fr'])})) AS fr_hits
  FROM t
)
SELECT doc_id, en_hits, de_hits, fr_hits,
  CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
       WHEN de_hits >= fr_hits THEN 'de'
       ELSE 'fr' END AS lang_guess
FROM h ORDER BY doc_id
"""


def _quality_counts_udf():
    """The per-document kernel: one Arrow pass over ``text`` emitting
    EXACT INTEGERS -- token count, summed token length, stopword hits,
    text length, punct-stripped length, word-bigram count and distinct
    word-bigram count (null text -> nulls).  Built per call: a
    DDL-typed ``pandas_udf`` needs a live session to parse its return
    type."""
    import re

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    stop = frozenset(STOPWORDS["en"])
    # ASCII \s == Java's \s (unicode \s also matches \x1c-\x1f)
    strip_punct = re.compile(r"[^a-zA-Z0-9\s]", re.ASCII).sub

    cols = ["n_tok", "wlen", "stop_hits", "text_len", "plen", "n_bi",
            "n_bi_uniq"]

    # unannotated (scalar is the default): postponed hints naming the
    # local ``pd`` would not resolve
    @pandas_udf(", ".join(f"{c} int" for c in cols))
    def counts(texts):
        def one(text):
            if text is None:
                return (None,) * len(cols)
            toks = tokens(text)
            # tokens hold no space, so a (left, right) pair is the
            # ' '-joined bigram string
            return (
                len(toks),
                sum(map(len, toks)),
                sum(t in stop for t in toks),
                len(text),
                len(strip_punct("", text)),
                max(len(toks) - 1, 0),
                len(set(zip(toks, toks[1:]))),
            )

        return pd.DataFrame(
            [one(text) for text in texts], columns=cols, dtype="Int32"
        )

    return counts


def quality_expr(c) -> dict:
    """The composite quality score and its parts as Columns over ONE
    bound kernel struct ``c`` (:func:`_quality_counts_udf` applied to
    a ``text`` column), keyed by output name: n_tokens, mean_word_len,
    stopword_ratio, punct_ratio, quality.  Shared by the driver
    queries (quality_score, quality_histogram_quantiles) and
    ``pretrain.content_features`` (whose ``quality`` column the
    pipeline job's --drop-bottom-quality-pct gate reads), so they
    cannot drift.  Every float operation and ROUND (Spark's HALF_UP --
    Python's round() is banker's) stays JVM-side, in the operand
    order of the DuckDB oracle's CTEs."""
    n_tok = c["n_tok"]
    stop_ratio = F.round(c["stop_hits"] / F.greatest(n_tok, F.lit(1)), 4)
    punct_ratio = F.round(
        (c["text_len"] - c["plen"]) / F.greatest(c["text_len"], F.lit(1)),
        4,
    )
    cols = {
        "n_tokens": n_tok,
        "mean_word_len": F.round(c["wlen"] / F.greatest(n_tok, F.lit(1)), 4),
        "stopword_ratio": stop_ratio,
        "punct_ratio": punct_ratio,
        "quality": F.round(
            F.least(n_tok / F.lit(100.0), F.lit(1.0)) * 0.4
            + stop_ratio * 0.3
            + (1 - punct_ratio) * 0.3,
            4,
        ),
    }
    return {name: col.alias(name) for name, col in cols.items()}


def with_quality_counts(df: DataFrame) -> DataFrame:
    """``df`` plus the kernel struct bound ONCE as column ``_qc``:
    every :func:`quality_expr` field then reads that column, so the
    plan holds one Python-eval node (one kernel call per document)."""
    return df.withColumn("_qc", _quality_counts_udf()("text"))


def quality_score(spark, sf_dir):
    """Composite quality score: length, mean word length, stopword
    ratio, punctuation ratio -- the usual cheap pretraining filters."""
    docs = with_quality_counts(read_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", *quality_expr(F.col("_qc")).values()
    ).orderBy("doc_id")


def _quality_ctes() -> str:
    """CTE list ending in ``scored(doc_id, n_tokens, mean_word_len,
    stopword_ratio, punct_ratio, quality)`` -- shared by the
    quality-score oracle and the histogram-quantile oracle (no string
    surgery between builders)."""
    return f"""t AS (
  SELECT doc_id, text, {_TOKENS_DUCK} AS toks FROM documents
), m AS (
  SELECT doc_id, text, len(toks) AS n_tokens,
    round(list_sum(list_transform(toks, x -> length(x)))
          / greatest(len(toks), 1), 4) AS mean_word_len,
    round(len(list_filter(toks,
          x -> list_contains({_list_lit(STOPWORDS['en'])}, x)))
          / greatest(len(toks), 1), 4) AS stopword_ratio,
    round((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))
          / greatest(length(text), 1), 4) AS punct_ratio
  FROM t
), scored AS (
  SELECT doc_id, n_tokens, mean_word_len, stopword_ratio, punct_ratio,
    round(least(n_tokens / 100.0, 1.0) * 0.4 + stopword_ratio * 0.3
          + (1 - punct_ratio) * 0.3, 4) AS quality
  FROM m
)"""


QUALITY_SQL = f"""
WITH {_quality_ctes()}
SELECT * FROM scored ORDER BY doc_id
"""


def token_count(spark, sf_dir):
    """Whitespace tokens + a BPE-ish regex token count (letter runs,
    digit runs, single punctuation marks)."""
    docs = read_table(spark, sf_dir, "documents")
    ws = F.size(F.expr("filter(split(text, '\\\\s+'), x -> x != '')"))
    bpe = F.size(
        F.regexp_extract_all(
            F.col("text"), F.lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), 0
        )
    )
    return docs.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        F.round(bpe / F.greatest(ws, F.lit(1)), 4).alias("fertility"),
    ).orderBy("doc_id")


TOKEN_COUNT_SQL = """
SELECT doc_id,
  len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
    AS ws_tokens,
  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))
    AS bpe_tokens,
  round(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))
        / greatest(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                   x -> x <> '')), 1), 4) AS fertility
FROM documents ORDER BY doc_id
"""


def doc_fingerprint(spark, sf_dir):
    """min-k sketch fingerprint: md5 over 8-char shingles (stride 4) of
    the normalized text; the 4 smallest hashes concatenated."""
    docs = read_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
    shingles = F.expr(
        "transform(sequence(1, greatest(length(_norm) - 7, 1), 4), "
        "i -> md5(substring(_norm, i, 8)))"
    )
    fp = F.concat_ws(
        "|", F.slice(F.array_sort(shingles), 1, 4)
    )
    return (
        docs.withColumn("_norm", norm)
        .select("doc_id", fp.alias("fingerprint"))
        .orderBy("doc_id")
    )


FINGERPRINT_SQL = """
WITH n AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g') AS norm
  FROM documents
), s AS (
  SELECT doc_id,
    list_sort(list_transform(
      range(1, greatest(length(norm) - 7, 1) + 1, 4),
      i -> md5(substring(norm, i, 8)))) AS hashes
  FROM n
)
SELECT doc_id, array_to_string(hashes[1:4], '|') AS fingerprint
FROM s ORDER BY doc_id
"""


def repetition_stats(spark, sf_dir):
    """Gopher-style repetition signals per document: the fraction of
    all word bigrams taken by the single most frequent bigram, and the
    fraction of word trigrams that occur more than once.  High values
    flag boilerplate/spam for pretraining filtering.

    Scale shape: computed entirely INSIDE the row with an array fold
    over the sorted gram list (run-length scan) -- zero shuffle, no
    corpus-sized exploded gram table.  The DuckDB oracle uses the
    explode+groupBy formulation, proving the fold equivalent."""
    from ..functions import shingles

    docs = read_table(spark, sf_dir, "documents")

    def runstats(grams_expr: str) -> str:
        # fold over sorted grams tracking (prev, run, max_run,
        # singleton_runs); finish folds in the final run.
        return (
            "aggregate("
            f"array_sort({grams_expr}), "
            "named_struct('prev', CAST(NULL AS STRING), 'run', 0, "
            "             'mx', 0, 'singles', 0, 'total', 0), "
            "(s, g) -> IF(s.prev IS NOT NULL AND g = s.prev, "
            "  named_struct('prev', g, 'run', s.run + 1, 'mx', s.mx, "
            "               'singles', s.singles, 'total', s.total + 1), "
            "  named_struct('prev', g, 'run', 1, "
            "               'mx', greatest(s.mx, s.run), "
            "               'singles', s.singles + IF(s.run = 1, 1, 0), "
            "               'total', s.total + 1)), "
            "s -> named_struct('mx', greatest(s.mx, s.run), "
            "                  'singles', s.singles + IF(s.run = 1, 1, 0), "
            "                  'total', s.total))"
        )

    b = runstats(shingles(2, "toks"))
    t = runstats(shingles(3, "toks"))
    out = (
        docs.select("doc_id", F.expr(_TOKENS).alias("toks"))
        .select("doc_id", F.expr(b).alias("b"), F.expr(t).alias("t"))
        .select(
            "doc_id",
            F.col("b.total").alias("n_bigrams"),
            F.round(
                F.col("b.mx") / F.greatest(F.col("b.total"), F.lit(1)), 4
            ).alias("top_bigram_frac"),
            F.col("t.total").alias("n_trigrams"),
            F.round(
                (F.col("t.total") - F.col("t.singles"))
                / F.greatest(F.col("t.total"), F.lit(1)),
                4,
            ).alias("dup_trigram_frac"),
        )
        .orderBy("doc_id")
    )
    return out


def _repetition_sql() -> str:
    from ..functions import shingles_duck

    return f"""
WITH t AS (
  SELECT doc_id,
         {shingles_duck(2)} AS g2,
         {shingles_duck(3)} AS g3
  FROM documents
), b AS (
  SELECT doc_id, g FROM (SELECT doc_id, unnest(g2) AS g FROM t)
), bc AS (
  SELECT doc_id, g, count(*) AS c FROM b GROUP BY 1, 2
), bagg AS (
  SELECT doc_id, max(c) AS mx, sum(c) AS total FROM bc GROUP BY doc_id
), tr AS (
  SELECT doc_id, g FROM (SELECT doc_id, unnest(g3) AS g FROM t)
), tc AS (
  SELECT doc_id, g, count(*) AS c FROM tr GROUP BY 1, 2
), tagg AS (
  SELECT doc_id, sum(c) AS total,
         sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS singles
  FROM tc GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(bagg.total, 0)::BIGINT AS n_bigrams,
       round(coalesce(bagg.mx, 0) / greatest(coalesce(bagg.total, 0), 1), 4)
         AS top_bigram_frac,
       coalesce(tagg.total, 0)::BIGINT AS n_trigrams,
       round((coalesce(tagg.total, 0) - coalesce(tagg.singles, 0))
             / greatest(coalesce(tagg.total, 0), 1), 4) AS dup_trigram_frac
FROM documents d
LEFT JOIN bagg ON d.doc_id = bagg.doc_id
LEFT JOIN tagg ON d.doc_id = tagg.doc_id
ORDER BY d.doc_id
"""


REPETITION_SQL = _repetition_sql()


def _tok_explode(docs, *cols):
    """Token rows via fully-codegen explode(split) + ``term != ''``
    instead of exploding the shared ``_TOKENS`` expr: the
    ``filter(..., lambda)`` higher-order function is interpreted by
    Catalyst (never codegen'd — the r3/r6/r7 lesson), and dropping
    empty tokens AFTER the explode is the same multiset (split only
    introduces empty strings at boundaries).  Measured at sf1.0:
    1.67 s -> 0.97 s per explode+count pass (guide §4.1: prefer
    built-ins the JVM can codegen)."""
    return docs.select(
        *cols,
        F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("term"),
    ).filter(F.col("term") != "")


def top_terms(spark, sf_dir, k: int = 20):
    """Corpus-wide exact heavy hitters: token counts via the canonical
    explode -> map-side-combined groupBy -> TakeOrdered top-k (partial
    per-partition top-k, tiny final merge -- never a global sort).
    Deterministic tie-break on the term itself."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    return (
        _tok_explode(docs)
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "term")
        .limit(k)
    )


TOP_TERMS_SQL = f"""
SELECT term, count(*) AS n
FROM (SELECT unnest({_TOKENS_DUCK}) AS term FROM documents)
GROUP BY term ORDER BY n DESC, term LIMIT 20
"""


def bigram_pmi(spark, sf_dir, k: int = 20, min_n: int = 5):
    """Collocation mining: top-k adjacent word pairs by pointwise
    mutual information — the standard corpus-analysis signal for
    multi-word expressions and tokenizer-merge candidates
    (pmi = ln(P(w1 w2) / (P(w1) P(w2))) over adjacent-pair and
    unigram distributions, min support ``min_n``).

    Scale shape (r9 vectorization — the r3/r6/r7 HOF lesson, fourth
    instance): ONE Arrow ``mapInPandas`` pass over the corpus emits
    per-task partial counts (key, is_bigram, partial_n) — a Counter
    per task plays the role of the map-side combine, so the rows
    crossing the Python boundary and the single exchange are
    vocab-sized, not token-count-sized.  Everything downstream (the
    unigram table, both one-row totals, the min-support bigram table)
    is derived from that ONE counted frame, which is materialized
    once per invocation with an eager ``localCheckpoint`` (the
    guide-§8 shape: decide with small rows — the five consumers would
    otherwise each re-run the corpus pass, because the ``b=0/1``
    branch filters push below each branch's exchange and defeat
    exchange reuse; a ``persist`` is NOT equivalent here — the
    CacheManager matches by canonicalized plan, so a later identical
    invocation would silently read the previous run's cache).  The
    declarative form scanned the corpus five times through the
    interpreted shingle/token HOFs: 53 s at sf1 vs sub-second
    siblings.  ``nb`` is summed BEFORE the min-support filter,
    exactly like the old ``count(*)`` over the raw explode.
    The unigram side still joins TWICE (w1, w2) with NO broadcast
    hint (web-scale vocab — the unigram_logprob_quality reasoning);
    final top-k is TakeOrdered on the RAW ratio (pure IEEE mult/div
    of identical ints — bit-stable across engines, unlike ln which
    may differ by 1 ulp between libms), with the bigram string as
    tie-break; ln+round(4) applied AFTER selection.  Tokenizer =
    the shared Python twin :func:`functions.tokens`."""
    from collections import Counter

    import pandas as pd

    docs = read_table(spark, sf_dir, "documents", spread=True)

    def counts_fn(batches):
        uni_c: Counter = Counter()
        big_c: Counter = Counter()
        for pdf in batches:
            for text in pdf["text"]:
                toks = tokens(text)
                uni_c.update(toks)
                big_c.update(
                    a + " " + b for a, b in zip(toks, toks[1:])
                )
        if uni_c or big_c:
            yield pd.DataFrame(
                {
                    "k": list(uni_c.keys()) + list(big_c.keys()),
                    "b": [0] * len(uni_c) + [1] * len(big_c),
                    "c": list(uni_c.values()) + list(big_c.values()),
                }
            )

    counts = docs.select("text").mapInPandas(
        counts_fn, "k string, b int, c long"
    )
    agg = (
        counts.groupBy("b", "k")
        .agg(F.sum("c").alias("cnt"))
        .localCheckpoint()
    )
    uni = agg.filter(F.col("b") == 0).select(
        F.col("k").alias("term"), F.col("cnt").alias("un")
    )
    bcnt = agg.filter(F.col("b") == 1)
    nu = uni.agg(F.sum("un").cast("double").alias("nu"))
    nb = bcnt.agg(F.sum("cnt").cast("double").alias("nb"))
    bc = bcnt.filter(F.col("cnt") >= min_n).select(
        F.col("k").alias("bigram"), F.col("cnt").alias("n")
    )
    j = (
        bc.withColumn("w1", F.split("bigram", " ")[0])
        .withColumn("w2", F.split("bigram", " ")[1])
        .join(uni.select(F.col("term").alias("w1"), F.col("un").alias("n1")), "w1")
        .join(uni.select(F.col("term").alias("w2"), F.col("un").alias("n2")), "w2")
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nu))
        .withColumn(
            "raw",
            F.col("n") / F.col("nb") * F.col("nu") / F.col("n1")
            * F.col("nu") / F.col("n2"),
        )
    )
    return (
        j.orderBy(F.desc("raw"), "bigram")
        .limit(k)
        .select("bigram", "n", F.round(F.log("raw"), 4).alias("pmi"))
    )


def _bigram_pmi_sql(k: int = 20, min_n: int = 5) -> str:
    from ..functions import shingles_duck

    # the ratio expression mirrors the Spark column EXACTLY (same
    # operand order, all-double after the first division) so the
    # top-k selection boundary is bit-identical
    return f"""
WITH toks AS (
  SELECT unnest({_TOKENS_DUCK}) AS term FROM documents
), uni AS (
  SELECT term, count(*)::BIGINT AS un FROM toks GROUP BY term
), nu AS (
  SELECT count(*)::DOUBLE AS nu FROM toks
), big AS (
  SELECT unnest({shingles_duck(2)}) AS bigram FROM documents
), nb AS (
  SELECT count(*)::DOUBLE AS nb FROM big
), bc AS (
  SELECT bigram, count(*)::BIGINT AS n FROM big
  GROUP BY bigram HAVING count(*) >= {min_n}
), j AS (
  SELECT bc.bigram, bc.n,
         bc.n / nb.nb * nu.nu / u1.un * nu.nu / u2.un AS raw
  FROM bc
  JOIN uni u1 ON u1.term = split_part(bc.bigram, ' ', 1)
  JOIN uni u2 ON u2.term = split_part(bc.bigram, ' ', 2)
  CROSS JOIN nb CROSS JOIN nu
)
SELECT bigram, n, round(ln(raw), 4) AS pmi
FROM j ORDER BY raw DESC, bigram LIMIT {k}
"""


BIGRAM_PMI_SQL = _bigram_pmi_sql()


def unigram_logprob_quality(spark, sf_dir):
    """Perplexity-lite quality signal: average per-token unigram log
    probability under the corpus's own unigram distribution -- the
    cheap stand-in for LM-perplexity filtering in pretraining
    pipelines.  Two linear passes: corpus term counts (map-side
    combined groupBy), then an explode + join back and a per-doc mean.
    add-0 smoothing is safe because every scored token is by
    construction in the vocabulary.

    The vocab join carries NO broadcast hint: on a web-scale corpus the
    distinct-term table is 10^8-10^9 rows and a forced broadcast OOMs
    executors.  At test SFs AQE broadcasts it anyway; at scale it falls
    back to a term-keyed shuffle join, which is the correct plan."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    toks = _tok_explode(docs, "doc_id")
    # the vocab aggregate is materialized once per invocation (eager
    # localCheckpoint): it feeds BOTH the score join and the token
    # total, and without the barrier each consumer re-runs the whole
    # corpus scan+explode (the join adds an isnotnull(term) filter to
    # its copy of the subtree, so exchange reuse never fires — checked
    # in the executed plan).  The vocab table is the SMALL side by
    # construction (true vocabulary, not corpus-sized), exactly what
    # guide §8 says to materialize.  total = sum of term counts ==
    # count of all tokens (exact integer identity) — removes the old
    # third corpus pass.  r9: 3 corpus scans -> 2.
    vocab = (
        toks.groupBy("term")
        .agg(F.count("*").alias("tc"))
        .localCheckpoint()
    )
    total = vocab.agg(F.sum("tc").cast("double").alias("n_total"))
    scored = (
        toks.join(vocab, "term")
        .crossJoin(F.broadcast(total))
        .select("doc_id", F.log(F.col("tc") / F.col("n_total")).alias("lp"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("lp"), 4).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


UNIGRAM_LOGPROB_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS_DUCK}) AS term FROM documents
), vocab AS (
  SELECT term, count(*) AS tc FROM toks GROUP BY term
), total AS (
  SELECT count(*)::DOUBLE AS n FROM toks
)
SELECT t.doc_id, count(*) AS n_tokens,
       round(avg(ln(v.tc / total.n)), 4) AS avg_logprob
FROM toks t JOIN vocab v USING (term), total
GROUP BY t.doc_id ORDER BY t.doc_id
"""


def tfidf_top_terms(spark, sf_dir, k: int = 3):
    """Top-k TF-IDF terms per document: per-doc term frequencies, a
    document-frequency join (idf = ln(N/df)), and a per-doc top-k
    window.  The canonical two-pass text pipeline -- both passes
    map-side combinable, the only full shuffle keyed on doc_id.

    Scale notes: the corpus size N enters as an in-plan one-row
    aggregate (broadcast cross join) -- no driver-side count() action
    scanning the corpus before the real plan runs.  The df join carries
    NO broadcast hint: the distinct-term table is corpus-cardinality
    (10^8+ terms on web scale) and a forced broadcast OOMs executors;
    AQE broadcasts it at small SF and shuffle-joins at scale."""
    from collections import Counter

    docs = read_table(spark, sf_dir, "documents", spread=True)
    # per-doc term frequencies from ONE Arrow pass (r9): a document
    # lives wholly in one row, so a per-doc Counter gives the COMPLETE
    # (doc_id, term, tf) rows with no aggregation shuffle at all — the
    # explode + groupBy(doc_id, term) form cost 2.7 s/pass at sf1.0
    # (and ran TWICE: df aggregate + score join).  Exact integer
    # counts, same tokenizer twin as every proven hash-exact Arrow
    # stage.  Materialized once per invocation (eager localCheckpoint)
    # for its two consumers; tf is the compressed proxy (distinct
    # terms per doc), well under the raw token stream it replaces.
    def term_freqs(toks, h):
        c = Counter(toks)
        return c.keys(), c.values()

    tf = doc_stage(docs, term_freqs, "term string, tf long").localCheckpoint()
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "tfidf")
        .orderBy("doc_id", "rank")
    )


TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS_DUCK}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT count(*)::DOUBLE AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(n.n_docs / df.df), 4) AS tfidf
  FROM tf JOIN df USING (term), n
)
SELECT doc_id, rank, term, tfidf FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS rank
  FROM scored
) WHERE rank <= 3 ORDER BY doc_id, rank
"""


N_EVAL_DOCS = 5  # doc_id < 5 act as the held-out benchmark set
CONTAM_K = 8  # shingle width for contamination matching


def contamination_check(spark, sf_dir):
    """Benchmark-contamination screen: fraction of each document's
    distinct word-8-grams that appear in the held-out eval set
    (doc_id < 5 stands in for a benchmark suite).  The standard
    pretraining decontamination operator -- docs overlapping the eval
    set must be dropped before training, and the eval docs themselves
    score 1.0.

    Scale shape: the eval-shingle table is small BY CONSTRUCTION
    (benchmark suites are a few MB, not corpus-sized), so the
    broadcast hint is correct here -- unlike a corpus vocabulary.  The
    corpus side is one explode + broadcast-join + per-doc count: one
    linear pass, no corpus-keyed shuffle except the doc_id groupBy."""
    from ..functions import shingles

    docs = read_table(spark, sf_dir, "documents")
    sh = F.array_distinct(F.expr(shingles(CONTAM_K, "toks")))
    base = (
        docs.select("doc_id", F.expr(_TOKENS).alias("toks"))
        .select("doc_id", sh.alias("sh"))
        .select("doc_id", "sh", F.size("sh").alias("n_shingles"))
    )
    evals = (
        base.filter(F.col("doc_id") < N_EVAL_DOCS)
        .select(F.explode("sh").alias("shingle"))
        .distinct()
    )
    ex = base.select("doc_id", F.explode("sh").alias("shingle"))
    hits = (
        ex.join(F.broadcast(evals), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("contaminated"))
    )
    return (
        base.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("contaminated", F.lit(0)).alias("contaminated"),
            F.round(
                F.coalesce("contaminated", F.lit(0))
                / F.greatest("n_shingles", F.lit(1)),
                4,
            ).alias("contamination_frac"),
        )
        .orderBy("doc_id")
    )


def _contamination_sql() -> str:
    from ..functions import shingles_duck

    return f"""
WITH base AS (
  SELECT doc_id, list_distinct({shingles_duck(CONTAM_K)}) AS sh
  FROM documents
), sized AS (
  SELECT doc_id, sh, len(sh) AS n_shingles FROM base
), evals AS (
  SELECT DISTINCT unnest(sh) AS shingle FROM base
  WHERE doc_id < {N_EVAL_DOCS}
), ex AS (
  SELECT doc_id, unnest(sh) AS shingle FROM base
), hits AS (
  SELECT doc_id, count(*) AS contaminated
  FROM ex JOIN evals USING (shingle) GROUP BY doc_id
)
SELECT s.doc_id, s.n_shingles,
       coalesce(h.contaminated, 0)::BIGINT AS contaminated,
       round(coalesce(h.contaminated, 0) / greatest(s.n_shingles, 1), 4)
         AS contamination_frac
FROM sized s LEFT JOIN hits h ON s.doc_id = h.doc_id
ORDER BY s.doc_id
"""


CONTAMINATION_SQL = _contamination_sql()

DUP_SPAN_W = 12  # window width for cross-doc duplicated-span detection


def dup_span_stats(spark, sf_dir):
    """Cross-document duplicated-span detection: the substring-level
    dedup pass between exact dedup and near-dup (the signal exact-hash
    misses when only a paragraph is shared, and MinHash misses when
    the shared span is a small fraction of both docs — boilerplate,
    licenses, quoted passages).  A word-``DUP_SPAN_W``-gram window is
    *duplicated* when it occurs in ≥2 DISTINCT documents; per doc we
    report how many window positions are duplicated and how many
    maximal contiguous runs (spans) they form.

    Scale shape: ONE |tokens|-row shuffle keyed on the 60-bit
    cross-engine gram hash (``h64`` — same cost class as the MinHash
    signature pass), where the ≥2-distinct-docs test is
    ``min(doc_id) != max(doc_id)`` — fully map-side combinable,
    unlike a count-distinct — then a semi-join back and a per-doc
    window for the gaps-and-islands span count.  Within-doc repeats
    are deliberately NOT counted (that is ``repetition_stats``)."""
    return dup_span_frac_df(
        read_table(spark, sf_dir, "documents").select("doc_id", "text")
    ).orderBy("doc_id")


def _gram_rows_df(base: DataFrame, w: int) -> DataFrame:
    """(doc_id, text) -> (doc_id, pos, g): one row per word-``w``-gram
    window position, ``g`` = the 60-bit ``h64`` of the gram string,
    computed in a vectorized Arrow pass.  The declarative form
    (shingle HOF + posexplode + md5) is interpreted per gram and cost
    333 s at the 50k-doc rehearsal point vs DuckDB's 71 s for the
    whole query.  Cross-document repetition is exactly what this
    operator hunts (boilerplate), so most windows hit the per-task
    memo of :func:`functions.doc_stage` instead of paying an md5."""

    def grams(toks, h):
        pos = range(len(toks) - w + 1)
        vs = h([" ".join(toks[i : i + w]) for i in pos])
        return pos, [v >> 4 for v in vs]  # h60

    return doc_stage(base, grams, "pos int, g bigint")


def dup_span_frac_df(df: DataFrame) -> DataFrame:
    """DataFrame-level core of :func:`dup_span_stats`: per-doc
    cross-document duplicated-window stats over an arbitrary
    (doc_id, text) frame — shared by the driver query and the
    pipeline ``--max-dup-span-frac`` boilerplate gate.  Works for
    both int and string doc_ids (min/max distinct-docs test only
    needs an ordering).

    The duplicated-gram marking is agg + semi-join (NOT a window over
    ``g``): partial map-side min/max collapses even a gram that
    appears in 1% of all docs to one row per mapper, where a window
    would sort that gram's every occurrence in one partition — the
    skew-robust choice at corpus scale.

    The Arrow gram stage feeds two consumers (the dup agg and the
    island agg) and is recomputed for each: at 500k docs recompute
    took 62.6 s vs 70.8 s with the grams persisted (BASELINE.md r8)."""
    from pyspark.sql import Window

    from ..functions import TOKENS

    w = DUP_SPAN_W
    base = df.select("doc_id", "text")
    n_toks = F.size(F.expr(TOKENS))
    sized = base.select(
        "doc_id",
        F.when(n_toks >= w, n_toks - (w - 1))
        .otherwise(0)
        .cast("bigint")
        .alias("n_windows"),
    )
    ex = _gram_rows_df(base, w)
    dup = _dup_grams(ex)
    win = Window.partitionBy("doc_id").orderBy("pos")
    agg = (
        ex.join(dup, "g")
        .select("doc_id", "pos")
        .withColumn("isl", F.col("pos") - F.row_number().over(win))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("dup_windows"),
            F.countDistinct("isl").alias("dup_spans"),
        )
    )
    zero = F.lit(0).cast("bigint")
    return (
        sized.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            F.coalesce("dup_windows", zero).alias("dup_windows"),
            F.round(
                F.coalesce("dup_windows", zero)
                / F.greatest("n_windows", F.lit(1)),
                4,
            ).alias("dup_frac"),
            F.coalesce("dup_spans", zero).alias("dup_spans"),
        )
    )


def _dup_span_sql(max_windows: int = 1000000) -> str:
    from ..functions import h64_duck, shingles_duck

    # positions via the static-range join idiom (DuckDB here lacks
    # WITH ORDINALITY and lateral range() binds — the doc_chunks
    # oracle's pattern); ``max_windows`` bounds the static range AND
    # arms the loud-truncation guard below (parameterized so the
    # guard itself is testable without a real 1M-token doc)
    return f"""
WITH base AS (
  SELECT doc_id, {shingles_duck(DUP_SPAN_W)} AS sh FROM documents
), sized AS (
  SELECT doc_id, len(sh)::BIGINT AS n_windows FROM base
), ex AS (
  SELECT b.doc_id, t.i AS pos, {h64_duck('b.sh[t.i]')} AS g
  FROM base b JOIN range(1, {max_windows}) t(i) ON t.i <= len(b.sh)
), dup AS (
  SELECT g FROM ex GROUP BY g HAVING min(doc_id) <> max(doc_id)
), isl AS (
  SELECT doc_id,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
           AS isl
  FROM ex JOIN dup USING (g)
), agg AS (
  SELECT doc_id, count(*)::BIGINT AS dup_windows,
         count(DISTINCT isl)::BIGINT AS dup_spans
  FROM isl GROUP BY doc_id
)
SELECT s.doc_id, s.n_windows,
       coalesce(a.dup_windows, 0)::BIGINT AS dup_windows,
       round(coalesce(a.dup_windows, 0) / greatest(s.n_windows, 1), 4)
         AS dup_frac,
       coalesce(a.dup_spans, 0)::BIGINT AS dup_spans
FROM sized s LEFT JOIN agg a ON s.doc_id = a.doc_id
CROSS JOIN (
  -- the static range position join silently TRUNCATES a doc with
  -- >= max_windows windows; the Spark side has no such bound, so a
  -- mega-doc corpus must fail LOUDLY here instead of passing a
  -- truncated oracle
  SELECT CASE WHEN max(len(sh)) >= {max_windows}
              THEN error('dup_span oracle: a doc exceeds the '
                         || '{max_windows}-window static range join; '
                         || 'raise the bound')
              ELSE 1 END AS ok
  FROM base
) guard
WHERE guard.ok = 1  -- referencing ok forces the guard's evaluation
                    -- (an unreferenced column would be pruned)
ORDER BY s.doc_id
"""


DUP_SPAN_SQL = _dup_span_sql()


def dup_span_scrub(spark, sf_dir):
    """Transformation counterpart of :func:`dup_span_stats`: REMOVE
    every token covered by a cross-document duplicated
    word-``DUP_SPAN_W``-gram window (boilerplate, licenses, quoted
    passages) and emit the scrubbed text — the exact-substring-removal
    pass large training pipelines run between exact dedup and near-dup
    (RefinedWeb-style), where the stats op only measures and the
    pipeline gate only drops whole docs.

    Scale shape: the same single |tokens|-row shuffle on the gram hash
    as the stats op (map-side-combinable min/max distinct-docs test),
    one per-doc collect of duplicated positions (bounded by the doc's
    own window count — same size class as the doc), one equi-join back
    to the docs, and a vectorized Arrow scrub pass (interval-union via
    prefix sum; no per-token Python)."""
    return dup_span_scrub_df(
        read_table(spark, sf_dir, "documents", spread=True).select(
            "doc_id", "text"
        )
    ).orderBy("doc_id")


def dup_grams_df(df: DataFrame) -> DataFrame:
    """(doc_id, text) -> DataFrame[g bigint]: the DISTINCT
    cross-document duplicated word-``DUP_SPAN_W``-gram hashes of the
    corpus — the "boilerplate list" the scrub removes.
    Map-side-combinable min/max is the ≥2-distinct-docs test (one
    |tokens|-row shuffle).
    Materialized into the dedup index by the pipeline so incremental
    probes can replay the corpus's splice on raw re-fetched text."""
    return _dup_grams(_gram_rows_df(df.select("doc_id", "text"), DUP_SPAN_W))


def _dup_grams(ex: DataFrame) -> DataFrame:
    """Gram rows (doc_id, g, ...) -> DataFrame[g]: the grams that
    occur in >= 2 distinct docs.  Map-side-combinable min/max is the
    distinct-docs test, and the groupBy makes the result distinct."""
    return (
        ex.groupBy("g")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
        .filter(F.col("mn") != F.col("mx"))
        .select("g")
    )


_SCRUB_FIND_RE = None


def scrub_one(
    text: "str | None", dps, w: int, normal_form: bool
) -> "tuple[int, int, str]":
    """Pure per-doc core of :func:`dup_span_scrub_df`:
    (text, duplicated window positions, width) ->
    (n_tokens, removed_tokens, scrubbed_text).  Module-level so the
    hypothesis property suite can drive it without Spark — the
    re-fetch exact-match path depends on its IDEMPOTENCE (splicing an
    already-spliced doc against the same gram set must be a no-op),
    which is asserted there.

    normal_form=False splices the ORIGINAL bytes: offsets come from
    case-insensitive matching on raw text (lower() is not
    length-preserving for some Unicode); if exotic case folding makes
    that token stream diverge from the gram stage's lower-then-split
    stream, THIS doc falls back to normal form — misaligned positions
    would cut the wrong tokens."""
    import re

    import numpy as np

    global _SCRUB_FIND_RE
    if _SCRUB_FIND_RE is None:
        _SCRUB_FIND_RE = re.compile(r"[a-zA-Z0-9]+")

    raw = text or ""
    toks = tokens(raw)
    splice = not normal_form
    if splice:
        spans = [m.span() for m in _SCRUB_FIND_RE.finditer(raw)]
        if [raw[s:e].lower() for s, e in spans] != toks:
            splice = False
    n = len(toks)
    if dps is None or len(dps) == 0:
        return n, 0, (raw if splice else " ".join(toks))

    # interval union without materializing w rows per window: +1 at
    # each start, -1 past each end, prefix-sum > 0 = covered
    delta = np.zeros(n + 1, dtype=np.int64)
    p = np.asarray(dps, dtype=np.int64)
    np.add.at(delta, p, 1)
    np.add.at(delta, np.minimum(p + w, n), -1)
    covered = np.cumsum(delta[:n]) > 0
    n_rm = int(covered.sum())
    if not splice:
        return n, n_rm, " ".join(
            t for t, c in zip(toks, covered) if not c
        )

    # cut each maximal covered token run from the ORIGINAL bytes; the
    # cut extends to the next token's start (eating the separator
    # run), or back to the previous token's end when the run closes
    # the doc
    pieces, cursor, i = [], 0, 0
    while i < n:
        if not covered[i]:
            i += 1
            continue
        j = i
        while j + 1 < n and covered[j + 1]:
            j += 1
        s = spans[i][0]
        if j + 1 < n:
            e = spans[j + 1][0]
        else:
            e = len(raw)
            if i > 0:
                s = spans[i - 1][1]
        pieces.append(raw[cursor:s])
        cursor = e
        i = j + 1
    pieces.append(raw[cursor:])
    return n, n_rm, "".join(pieces)


def dup_span_scrub_df(
    df: DataFrame,
    normal_form: bool = True,
    grams: "DataFrame | None" = None,
) -> DataFrame:
    """(doc_id, text) -> (doc_id, n_tokens, removed_tokens,
    scrubbed_text): drop every token position covered by ANY
    duplicated window (window at pos p covers tokens p..p+w-1, w =
    ``DUP_SPAN_W``; overlapping windows union).  ``n_tokens`` is the
    PRE-scrub count; post-scrub is ``n_tokens - removed_tokens``.

    ``grams``: the gram-hash set (DataFrame[g]) whose windows to
    splice.  ``None`` derives it from ``df`` itself via
    :func:`dup_grams_df` (the batch's own cross-doc duplicates — the
    driver query's semantics).  Passing an explicit frame makes the
    transform REPLAYABLE: splicing raw text against an index's frozen
    ``dup_grams`` table reproduces the indexed representation
    byte-for-byte, which is what lets incremental probes exact-match
    scrubbed corpora.

    ``normal_form=True`` (the oracle-backed driver row): output text
    is the shared tokenizer's normal form (lowercase, ``[a-z0-9]+``
    tokens, space-joined) on BOTH engines — byte-equal to the DuckDB
    oracle's ``string_agg``.

    ``normal_form=False`` (the pipeline's training-text mode): the
    ORIGINAL bytes are preserved — covered token runs are spliced out
    of the untouched text (cut extends through the following
    separator run, or the preceding one when the run ends the doc),
    so case, punctuation and spacing of everything kept survive
    verbatim; a doc with no duplicated windows comes back
    byte-identical.  No SQL oracle for this mode (character-offset
    splicing is not expressible in the shared DuckDB surface); its
    gate is the planted byte-equality tests."""
    import pandas as pd

    w = DUP_SPAN_W
    base = df.select("doc_id", "text")
    ex = _gram_rows_df(base, w)
    if grams is None:
        # already distinct by construction (groupBy g) -- no extra
        # exchange; an EXTERNAL frame gets an explicit distinct so a
        # caller passing a multi-version union can't double-collect
        gsel = _dup_grams(ex)
    else:
        gsel = grams.select("g").distinct()
    dpos = (
        ex.join(gsel, "g")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("dps"))
    )
    joined = base.join(dpos, "doc_id", "left")

    def scrub_fn(batches):
        for pdf in batches:
            ids, n_toks, removed, texts = [], [], [], []
            for doc_id, text, dps in zip(
                pdf["doc_id"], pdf["text"], pdf["dps"]
            ):
                n, n_rm, out = scrub_one(text, dps, w, normal_form)
                ids.append(doc_id)
                n_toks.append(n)
                removed.append(n_rm)
                texts.append(out)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_tokens": n_toks,
                    "removed_tokens": removed,
                    "scrubbed_text": texts,
                }
            )

    schema = (
        "doc_id "
        + doc_id_sql_type(base)
        + ", n_tokens bigint, removed_tokens bigint, scrubbed_text string"
    )
    return joined.mapInPandas(scrub_fn, schema)


def _dup_span_scrub_sql(max_tokens: int = 1000000) -> str:
    from ..functions import TOKENS_DUCK, h64_duck, shingles_duck

    # token positions via the same static-range join idiom as
    # _dup_span_sql; one bound covers both joins (len(sh) < len(toks))
    # and arms the same loud-truncation guard
    return f"""
WITH base AS (
  SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents
), sh AS (
  SELECT doc_id, {shingles_duck(DUP_SPAN_W)} AS sh FROM documents
), ex AS (
  SELECT s.doc_id, t.i AS pos, {h64_duck('s.sh[t.i]')} AS g
  FROM sh s JOIN range(1, {max_tokens}) t(i) ON t.i <= len(s.sh)
), dup AS (
  SELECT g FROM ex GROUP BY g HAVING min(doc_id) <> max(doc_id)
), dp AS (
  SELECT doc_id, pos FROM ex JOIN dup USING (g)
), tok AS (
  SELECT b.doc_id, t.i AS i, b.toks[t.i] AS tok
  FROM base b JOIN range(1, {max_tokens}) t(i) ON t.i <= len(b.toks)
), kept AS (
  -- 1-based: the window at dp.pos covers tokens dp.pos..dp.pos+w-1,
  -- so token i is covered iff some duplicated pos is in [i-w+1, i]
  SELECT k.doc_id, k.i, k.tok
  FROM tok k
  WHERE NOT EXISTS (
    SELECT 1 FROM dp
    WHERE dp.doc_id = k.doc_id
      AND dp.pos BETWEEN k.i - {DUP_SPAN_W - 1} AND k.i
  )
), ka AS (
  SELECT doc_id, count(*)::BIGINT AS kept_n,
         string_agg(tok, ' ' ORDER BY i) AS scrubbed_text
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id, len(b.toks)::BIGINT AS n_tokens,
       (len(b.toks) - coalesce(ka.kept_n, 0))::BIGINT AS removed_tokens,
       coalesce(ka.scrubbed_text, '') AS scrubbed_text
FROM base b LEFT JOIN ka USING (doc_id)
CROSS JOIN (
  SELECT CASE WHEN max(len(toks)) >= {max_tokens}
              THEN error('dup_span_scrub oracle: a doc exceeds the '
                         || '{max_tokens}-token static range join; '
                         || 'raise the bound')
              ELSE 1 END AS ok
  FROM base
) guard
WHERE guard.ok = 1
ORDER BY b.doc_id
"""


DUP_SPAN_SCRUB_SQL = _dup_span_scrub_sql()

CONTEXT_LEN = 2048


def packing_stats(spark, sf_dir):
    """Sequence-packing planning stats per source: how many
    CONTEXT_LEN-token training sequences the corpus yields under
    naive one-doc-per-chunk packing, and the padding waste -- the
    numbers a pretraining data planner reads before choosing a packing
    strategy.  Pure map-side arithmetic + one small groupBy."""
    docs = read_table(spark, sf_dir, "documents")
    n_tok = F.size(F.expr(_TOKENS))
    chunks = F.ceil(n_tok / F.lit(float(CONTEXT_LEN))).cast("bigint")
    per_doc = docs.select(
        "source", n_tok.alias("n_tokens"), chunks.alias("chunks")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("chunks").alias("total_chunks"),
            # (capacity - tokens) / max(capacity, 1): equal to
            # 1 - tokens/capacity when chunks > 0, and 0 (not Spark
            # NaN vs DuckDB NULL) for an all-empty-doc source
            F.round(
                (F.sum("chunks") * F.lit(CONTEXT_LEN) - F.sum("n_tokens"))
                / F.greatest(
                    F.sum("chunks") * F.lit(CONTEXT_LEN), F.lit(1)
                ).cast("double"),
                4,
            ).alias("padding_waste_frac"),
        )
        .orderBy("source")
    )


PACKING_SQL = f"""
WITH d AS (
  SELECT source, len({_TOKENS_DUCK}) AS n_tokens,
         ceil(len({_TOKENS_DUCK}) / {CONTEXT_LEN}.0)::BIGINT AS chunks
  FROM documents
)
SELECT source, count(*) AS n_docs,
       sum(n_tokens)::BIGINT AS total_tokens,
       sum(chunks)::BIGINT AS total_chunks,
       round((sum(chunks) * {CONTEXT_LEN} - sum(n_tokens))
             / greatest(sum(chunks) * {CONTEXT_LEN}, 1)::DOUBLE, 4)
         AS padding_waste_frac
FROM d GROUP BY source ORDER BY source
"""


SAMPLE_FRAC = 0.3
_SAMPLE_MOD = 10_000


def stratified_sample(spark, sf_dir, frac: float = SAMPLE_FRAC):
    """Deterministic hash-threshold sampling, reported per language
    stratum: a doc is sampled iff ``h64(doc_id) % 10000 < frac*10000``.
    The scalable sampling pattern -- no RNG state, no shuffle for the
    decision (scan + filter), identical sample on every engine, every
    run, and every subset of partitions, which is what makes sampled
    pipelines resumable and auditable at 100 TB.  (Spark's
    ``df.sample`` is seed-stable only for a fixed partitioning; a
    hash threshold survives repartitioning.)"""
    from ..functions import h64

    docs = read_table(spark, sf_dir, "documents")
    picked = (h64(F.col("doc_id").cast("string")) % _SAMPLE_MOD) < int(
        frac * _SAMPLE_MOD
    )
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(picked, 1).otherwise(0)).alias("n_sampled"),
        )
        .withColumn(
            "frac_achieved",
            F.round(F.col("n_sampled") / F.col("n_total"), 4),
        )
        .orderBy("lang")
    )


MIX_BUDGET_FRAC = 0.5


def source_mixture_sample(
    spark, sf_dir, budget_frac: float = MIX_BUDGET_FRAC
):
    """Pretraining data MIXING: give every source an equal share of a
    total token budget (``budget_frac`` of the corpus), derive each
    source's deterministic sampling rate
    ``min(1, share / source_tokens)``, and report achieved docs/tokens
    under the same hash-threshold pick as :func:`stratified_sample`
    (no RNG state, identical decisions on every engine / run /
    partitioning — what makes a mixed corpus resumable and auditable).
    Over-budget sources are downsampled toward the share; under-budget
    sources keep everything (rate caps at 1) — the standard mixing
    behavior.  The rate lands as an INTEGER basis-point threshold
    (``rate_bp``), so the per-doc decision is exact integer
    arithmetic, not a float compare.

    Scale shape: one token-count pass (map-side combined per-source
    agg), a #sources-row rate table broadcast back, and one
    scan+filter — no corpus shuffle.  Deliberately NOT materialized
    or spread (r9, measured): a consumer that only counts rows prunes
    this plan down to distinct(source) — no tokenize at all — and any
    eager barrier would force the full compute on it; the two lazy
    passes also stay individually cheap."""
    from ..functions import h64

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(F.expr(_TOKENS)).alias("nt")
    )
    per = docs.groupBy("source").agg(F.sum("nt").alias("tokens"))
    tot = per.agg(
        F.sum("tokens").cast("double").alias("tt"),
        F.count("*").cast("double").alias("ns"),
    )
    rates = (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.least(
                F.lit(10000).cast("bigint"),
                F.floor(
                    F.col("tt") * F.lit(budget_frac) / F.col("ns")
                    / F.col("tokens") * F.lit(10000)
                ),
            )
            .cast("int")
            .alias("rate_bp"),
        )
    )
    picked = (h64(F.col("doc_id").cast("string")) % _SAMPLE_MOD) < F.col(
        "rate_bp"
    )
    return (
        docs.join(F.broadcast(rates), "source")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nt").alias("tokens"),
            F.max("rate_bp").alias("rate_bp"),
            F.sum(F.when(picked, 1).otherwise(0)).alias("sampled_docs"),
            F.sum(F.when(picked, F.col("nt")).otherwise(0)).alias(
                "sampled_tokens"
            ),
        )
        .orderBy("source")
    )


def _source_mixture_sql(budget_frac: float = MIX_BUDGET_FRAC) -> str:
    from ..functions import h64_duck

    pick = f"{h64_duck('d.doc_id::VARCHAR')} % {_SAMPLE_MOD} < r.rate_bp"
    return f"""
WITH d AS (
  SELECT doc_id, source, len({_TOKENS_DUCK})::BIGINT AS nt FROM documents
), per AS (
  SELECT source, sum(nt)::BIGINT AS tokens FROM d GROUP BY source
), tot AS (
  SELECT sum(tokens)::DOUBLE AS tt, count(*)::DOUBLE AS ns FROM per
), rates AS (
  -- operand order mirrors the Spark column exactly (all-double after
  -- the first multiply) so the floor() boundary is bit-identical
  SELECT source,
         least(10000, floor(tot.tt * {budget_frac} / tot.ns
                            / per.tokens * 10000))::INT AS rate_bp
  FROM per CROSS JOIN tot
)
SELECT d.source, count(*)::BIGINT AS n_docs, sum(d.nt)::BIGINT AS tokens,
       max(r.rate_bp) AS rate_bp,
       sum(CASE WHEN {pick} THEN 1 ELSE 0 END)::BIGINT AS sampled_docs,
       sum(CASE WHEN {pick} THEN d.nt ELSE 0 END)::BIGINT
         AS sampled_tokens
FROM d JOIN rates r USING (source)
GROUP BY d.source ORDER BY d.source
"""


SOURCE_MIXTURE_SQL = _source_mixture_sql()


def _stratified_sample_sql() -> str:
    from ..functions import h64_duck

    thr = int(SAMPLE_FRAC * _SAMPLE_MOD)
    return f"""
SELECT lang, count(*)::BIGINT AS n_total,
       sum(CASE WHEN {h64_duck('doc_id::VARCHAR')} % {_SAMPLE_MOD} < {thr}
                THEN 1 ELSE 0 END)::BIGINT AS n_sampled,
       round(sum(CASE WHEN {h64_duck('doc_id::VARCHAR')} % {_SAMPLE_MOD} < {thr}
                 THEN 1 ELSE 0 END) / count(*)::DOUBLE, 4) AS frac_achieved
FROM documents GROUP BY lang ORDER BY lang
"""


STRATIFIED_SAMPLE_SQL = _stratified_sample_sql()


def doc_chunks(spark, sf_dir):
    """Context-window chunking for training prep: one output row per
    CONTEXT_LEN-token chunk of each document (the materialized form of
    what ``packing_stats`` only counts).  The expansion is a
    ``sequence`` + ``posexplode`` inside the row -- no join, no
    shuffle; linear in output size at any corpus scale.  Zero-token
    documents contribute zero chunks."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    nt = F.size(F.expr(_TOKENS))
    d = (
        docs.select("doc_id", nt.alias("n_tokens"))
        .withColumn(
            "n_chunks",
            F.ceil(F.col("n_tokens") / F.lit(float(CONTEXT_LEN))).cast(
                "bigint"
            ),
        )
        .filter(F.col("n_chunks") > 0)
    )
    chunk_tokens = F.least(
        F.lit(CONTEXT_LEN).cast("bigint"),
        F.col("n_tokens") - F.col("chunk_idx") * CONTEXT_LEN,
    )
    return (
        d.select(
            "doc_id",
            "n_tokens",
            F.explode(
                F.sequence(F.lit(0).cast("bigint"), F.col("n_chunks") - 1)
            ).alias("chunk_idx"),
        )
        .select(
            "doc_id", "chunk_idx", chunk_tokens.alias("chunk_tokens")
        )
        .orderBy("doc_id", "chunk_idx")
    )


DOC_CHUNKS_SQL = f"""
WITH d AS (
  SELECT doc_id, len({_TOKENS_DUCK}) AS n_tokens,
         ceil(len({_TOKENS_DUCK}) / {CONTEXT_LEN}.0)::BIGINT AS n_chunks
  FROM documents
)
SELECT d.doc_id, t.i AS chunk_idx,
       least({CONTEXT_LEN}, d.n_tokens - t.i * {CONTEXT_LEN})::BIGINT
         AS chunk_tokens
FROM d JOIN range(0, 1000000) t(i) ON t.i < d.n_chunks
ORDER BY doc_id, chunk_idx
"""


QUANTILE_QS = (0.25, 0.5, 0.75, 0.9)
N_QBINS = 1000


def quality_bin(col) -> "F.Column":
    """The sketch's integer bin for a 4-dp-rounded quality value --
    deterministic integer arithmetic, no float bin edges."""
    return F.expr(
        f"CAST(round({col} * 10000) AS BIGINT) DIV 10"
    )


def _quality_hist(df: DataFrame) -> list:
    """The mergeable fixed-bin sketch over a ``quality`` column:
    sorted ``(bin, n)`` pairs from one <=N_QBINS-key shuffle
    (map-side combinable at any corpus size) -- an O(bins) metric
    frame on the driver, not a data collect."""
    return sorted(
        (r["bin"], r["n"])
        for r in df.select(quality_bin("quality").alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("n"))
        .collect()
    )


def _hist_bin_at(hist: list, frac: float):
    """The cumulative walk: the smallest bin whose cumulative count
    reaches ``ceil(frac * n)`` (the last bin if none does; None on an
    empty histogram)."""
    target = math.ceil(sum(n for _, n in hist) * frac)
    cum = 0
    for b, n in hist:
        cum += n
        if cum >= target:
            return b
    return hist[-1][0] if hist else None


def quality_bin_threshold(df: DataFrame, drop_frac: float) -> int:
    """Distributed 'drop the bottom X%' threshold over a ``quality``
    column via the same histogram sketch and walk as
    :func:`quality_histogram_quantiles`.

    Returns the smallest bin whose cumulative count reaches
    ``ceil(drop_frac * n)``; rows with ``quality_bin(quality) <
    threshold`` are strictly inside the bottom fraction (ties at the
    threshold bin are kept, so at most ``drop_frac`` is dropped)."""
    b = _hist_bin_at(_quality_hist(df), drop_frac)
    return 0 if b is None else int(b)


def quality_histogram_quantiles(spark, sf_dir):
    """Distributed quantile thresholds of the quality score via a
    MERGEABLE fixed-bin histogram sketch -- the pattern a production
    pipeline uses to pick 'drop the bottom X%' cutoffs without a
    global sort: per-partition bin counts (map-side combinable,
    shuffle is <= N_QBINS keys regardless of corpus size), then the
    quantile is the smallest bin whose cumulative count reaches q*N.

    Determinism: bins come from the 4-dp-rounded quality as INTEGER
    arithmetic (round(q*10000) DIV 10), so no float bin-edge can
    straddle engines.  The quality comes from the one Arrow kernel
    (:func:`quality_expr`), the cumulative walk runs on the driver
    over the collected histogram, and the one-row result (all-null on
    an empty corpus) divides and rounds JVM-side.  Like
    approx_distinct_kmv, this is an approximate aggregate that still
    passes an EXACT cross-engine gate because the sketch itself is
    deterministic."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    docs = with_quality_counts(docs.select("text"))
    hist = _quality_hist(docs.select(quality_expr(F.col("_qc"))["quality"]))
    ps = [f"p{int(qq * 100)}" for qq in QUANTILE_QS]
    row = [sum(n for _, n in hist) if hist else None]
    row += [_hist_bin_at(hist, qq) for qq in QUANTILE_QS]
    out = spark.createDataFrame(
        [row], ", ".join(f"{c} bigint" for c in ["n_docs", *ps])
    )
    return out.select(
        "n_docs",
        *(F.round(F.col(p) / F.lit(float(N_QBINS)), 3).alias(p) for p in ps),
    )


def _quality_quantiles_sql() -> str:
    sel = ", ".join(
        f"round(min(CASE WHEN cum >= ceil(n_docs * {qq}) THEN bin END)"
        f" / {N_QBINS}.0, 3) AS p{int(qq * 100)}"
        for qq in QUANTILE_QS
    )
    return f"""
WITH {_quality_ctes()},
b AS (
  SELECT (round(quality * 10000)::BIGINT // 10) AS bin FROM scored
), hist AS (
  SELECT bin, count(*) AS n FROM b GROUP BY bin
), cum AS (
  SELECT bin, sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
  FROM hist
), tot AS (
  SELECT sum(n)::BIGINT AS n_docs FROM hist
)
SELECT max(n_docs)::BIGINT AS n_docs, {sel}
FROM cum, tot
"""


QUALITY_QUANTILES_SQL = _quality_quantiles_sql()


def pack_concat_split(spark, sf_dir, window: int = None):
    """Concat-and-split sequence packing -- the production packing
    strategy (vs :func:`packing_stats`' naive one-doc-per-chunk
    planning numbers): all kept documents' token streams concatenate
    in doc_id order and split into fixed ``window``-token training
    bins with ZERO padding except the final bin.  Output maps each
    document to the bins it lands in: (doc_id, bin_id, tok_start,
    tok_end) with [tok_start, tok_end) the within-doc token range
    contributed to that bin.

    Scale shape: the global running token offset is the classic
    TWO-PHASE distributed prefix sum -- deterministic integer range
    partitioning on doc_id (no repartitionByRange: its sampled
    boundaries are not stable across the two passes), per-partition
    totals collected driver-side (O(partitions) rows), prefix offsets
    broadcast-joined back, cumsum windowed WITHIN each partition.  No
    single-reducer global window anywhere; bins follow from pure
    arithmetic + a bounded sequence explode (a doc spanning k bins
    emits k rows, sum(k) = total_tokens/window + n_docs).

    The DuckDB oracle is the direct single-node form (one global
    window cumsum + range join), value-identical by construction."""
    docs = read_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", F.expr(_TOKENS).alias("toks")
    )
    return pack_slices_df(docs, window, key_col="doc_id").select(
        "doc_id", "bin_id", "tok_start", "tok_end"
    ).orderBy("doc_id", "bin_id")


def pack_slices_df(
    docs: DataFrame, window: int = None, key_col: str = "doc_id"
) -> DataFrame:
    """DataFrame-level packing core (see :func:`pack_concat_split` for
    the algorithm): ``docs`` carries (doc_id, toks array<string>) plus
    an INTEGER ``key_col`` giving the deterministic packing order
    (doc_id itself when integer; the pipeline passes
    ``xxhash64(doc_id)`` for string ids -- packing order only needs to
    be deterministic, and a pseudorandom document order is the
    shuffled-corpus behavior pretraining wants anyway).  Returns one
    row per (doc, bin) slice: input columns + (bin_id, tok_start,
    tok_end), unsorted."""
    window = window or CONTEXT_LEN
    spark = docs.sparkSession
    sized = docs.withColumn("n_toks", F.size("toks")).filter(
        F.col("n_toks") > 0
    )
    # ints-only proxy (key, doc_id, n_toks), materialized once per
    # invocation (eager localCheckpoint): the min/max probe and the
    # phase-1 totals both read it, where they previously each re-ran
    # the full corpus scan + tokenize (r9: 3 token passes -> 2 — only
    # the phase-2 slice emission still touches ``toks``, guide §8:
    # decide with small rows)
    slim = sized.select(key_col, "doc_id", "n_toks").localCheckpoint()
    # deterministic integer range partitioning: key // span.  (NOT
    # repartitionByRange: its sampled boundaries are not stable across
    # the two passes this computation makes.)
    n_parts = spark.sparkContext.defaultParallelism
    lo, hi = slim.agg(F.min(key_col), F.max(key_col)).collect()[0]
    if lo is None:  # empty input: keep the schema, skip the machinery
        lo, hi = 0, 0
    # span in PYTHON ints (hi-lo can exceed int64 when the key is a
    # full-range hash); pid = key div span -- trunc division is
    # monotone for a positive divisor, which is all the prefix logic
    # needs (pids need not start at 0), and it stays integer-exact
    # where a double floor() would lose precision above 2^53
    span = max((int(hi) - int(lo)) // n_parts + 1, 1)
    # pid stays BIGINT: key div span can exceed 2^31 for large
    # clustered integer ids (e.g. timestamp-like), where an INT cast
    # would overflow (ANSI crash / silent wrap breaking monotonicity)
    parted = sized.withColumn(
        "pid", F.expr(f"CAST(({key_col} div {span}) AS BIGINT)")
    )
    # phase 1: O(partitions) totals -> prefix offsets, broadcast back
    # (computed from the materialized slim proxy, not the corpus)
    totals = sorted(
        (r.pid, r.t)
        for r in slim.withColumn(
            "pid", F.expr(f"CAST(({key_col} div {span}) AS BIGINT)")
        )
        .groupBy("pid")
        .agg(F.sum("n_toks").alias("t"))
        .collect()
    )
    prefix, acc = [], 0
    for pid, t in totals:
        prefix.append((pid, acc))
        acc += int(t)
    offsets = spark.createDataFrame(
        prefix or [(0, 0)], "pid bigint, part_off bigint"
    )
    # phase 2: in-partition cumsum + broadcast prefix = global offset;
    # doc_id breaks key collisions (colliding keys share a pid, so the
    # tie-break is consistent with the global (key, doc_id) order)
    w = (
        Window.partitionBy("pid")
        .orderBy(key_col, "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    s = F.coalesce(F.sum("n_toks").over(w), F.lit(0)) + F.col("part_off")
    sized2 = parted.join(F.broadcast(offsets), "pid").withColumn("s", s)
    win = F.lit(window).cast("bigint")
    bins = sized2.withColumn(
        "bin_id",
        F.explode(
            F.sequence(
                F.floor(F.col("s") / win),
                F.floor((F.col("s") + F.col("n_toks") - 1) / win),
            )
        ),
    ).withColumn("bin_id", F.col("bin_id").cast("bigint"))
    bin_lo = F.col("bin_id") * win
    tok_start = F.greatest(F.col("s"), bin_lo) - F.col("s")
    tok_end = F.least(F.col("s") + F.col("n_toks"), bin_lo + win) - F.col("s")
    return (
        bins.withColumn("tok_start", tok_start.cast("bigint"))
        .withColumn("tok_end", tok_end.cast("bigint"))
        .drop("pid", "part_off", "n_toks", "s")
    )


def packed_sequences(
    docs: DataFrame, window: int = None, shuffle_order: bool = True
) -> DataFrame:
    """Materialized packed training sequences from (doc_id, text)
    rows: one row per bin with the assembled ``seq_text``, its token
    count, and slice provenance counts.  ``shuffle_order=True`` packs
    in xxhash64(doc_id) order (deterministic pseudorandom -- the
    shuffled-corpus order pretraining wants, and the only option for
    non-integer doc ids); False requires an integer doc_id and packs
    in id order.  Bin assembly is a bin_id groupBy whose per-group
    state is one window of tokens (~CONTEXT_LEN), so the collect_list
    is bounded by construction."""
    window = window or CONTEXT_LEN
    key = (
        F.xxhash64("doc_id") if shuffle_order else F.col("doc_id")
    ).alias("pack_key")
    toks = docs.select(
        "doc_id", key, F.expr(_TOKENS).alias("toks")
    )
    sl = pack_slices_df(toks, window, key_col="pack_key")
    piece = F.concat_ws(
        " ",
        F.slice(
            "toks",
            (F.col("tok_start") + 1).cast("int"),
            (F.col("tok_end") - F.col("tok_start")).cast("int"),
        ),
    )
    slices = sl.select(
        "bin_id",
        "pack_key",
        "doc_id",
        piece.alias("piece"),
        (F.col("tok_end") - F.col("tok_start")).alias("n_toks"),
    )
    ordered = F.array_sort(
        F.collect_list(F.struct("pack_key", "doc_id", "piece"))
    )
    return slices.groupBy("bin_id").agg(
        F.concat_ws(
            " ", F.transform(ordered, lambda st: st.piece)
        ).alias("seq_text"),
        F.sum("n_toks").alias("n_toks"),
        F.count("*").alias("n_slices"),
    )


PACK_CONCAT_SPLIT_SQL = f"""
WITH toks AS (
  SELECT doc_id, len({_TOKENS_DUCK})::BIGINT AS n_toks FROM documents
  WHERE len({_TOKENS_DUCK}) > 0
), cum AS (
  SELECT doc_id, n_toks,
         COALESCE(sum(n_toks) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0)::BIGINT AS s
  FROM toks
), bins AS (
  -- scalar range() (list form) accepts column bounds, unlike the
  -- table function, which only takes constants
  SELECT doc_id, n_toks, s,
         unnest(range(s // {CONTEXT_LEN},
                      (s + n_toks - 1) // {CONTEXT_LEN} + 1)) AS bin_id
  FROM cum
)
SELECT doc_id, bin_id,
       (GREATEST(s, bin_id * {CONTEXT_LEN}) - s)::BIGINT AS tok_start,
       (LEAST(s + n_toks, (bin_id + 1) * {CONTEXT_LEN}) - s)::BIGINT
         AS tok_end
FROM bins ORDER BY doc_id, bin_id
"""


# PII scrubbing patterns: conservative character-class regexes with
# IDENTICAL semantics in Java regex (Spark) and RE2 (DuckDB) -- no
# lookaround, no backrefs, no engine-specific classes.  The URL
# terminator is an EXPLICIT whitespace class, not [^\s]: Java's ASCII
# \s includes vertical tab \x0b while RE2's does not, so \s-based
# boundaries diverge on a URL adjacent to a VT.  Replacement order is
# fixed (URLs first -- emails can appear inside URLs; IPs before
# phones so a dotted quad is never half-eaten by the phone pattern;
# SSN before the long-digit-run id class) and mirrored in the oracle.
URL_RE = r"https?://[^ \t\n\x0b\f\r]+"
EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
SSN_RE = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"
PHONE_RE = r"(\+?[0-9]{1,2}[- ]?)?\(?[0-9]{3}\)?[- ]?[0-9]{3}[- ]?[0-9]{4}"
IDNUM_RE = r"\b[0-9]{9,}\b"

# (name, pattern, placeholder) in the fixed replacement order; the
# Spark op and the DuckDB oracle are both generated from this table so
# the two sides cannot drift.
PII_CLASSES = (
    ("urls", URL_RE, "<URL>"),
    ("emails", EMAIL_RE, "<EMAIL>"),
    ("ips", IP_RE, "<IP>"),
    ("ssns", SSN_RE, "<SSN>"),
    ("phones", PHONE_RE, "<PHONE>"),
    ("ids", IDNUM_RE, "<ID>"),
)


def pii_scrub(spark, sf_dir):
    """PII/link scrubbing -- the redaction stage of a pretraining
    pipeline: per-doc counts for each PII class (URL, email, IPv4,
    SSN-shaped, phone-shaped, long-digit-run id) plus the md5 of the
    text with all classes replaced by placeholder tokens, applied in
    the fixed ``PII_CLASSES`` order.  The hash (not the scrubbed
    text) keeps the driver row small while still pinning the exact
    replacement semantics; pure columnar regexp ops, JVM-side, zero
    shuffle before the presentation sort.  The committed corpus
    contains no PII (counts verify as zeros); the planted-corpus test
    in test_pipeline_ops carries the positive evidence -- one planted
    doc per class -- with the oracle re-run on that corpus.

    Counts are measured on the ORIGINAL text per class, not on the
    partially-scrubbed chain input: counting on the original keeps
    each count a pure function of (text, one regex), identical in
    both engines regardless of what earlier classes replaced."""
    docs = read_table(spark, sf_dir, "documents")
    scrubbed = F.col("text")
    cols = [F.col("doc_id")]
    for name, pat, token in PII_CLASSES:
        cols.append(
            F.regexp_count("text", F.lit(pat)).cast("bigint").alias(f"n_{name}")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    cols.append(F.md5(scrubbed).alias("scrubbed_hash"))
    return docs.select(*cols).orderBy("doc_id")


def pii_scrub_text(col: "F.Column") -> "F.Column":
    """The ``PII_CLASSES`` redaction chain as ONE Column expression
    (fixed class order, same placeholders as :func:`scrub_pii_df`).
    Shared by the scrub stage and by ``probe_dedup_index`` when an
    index's ``index_meta.json`` records ``scrubbed: true`` -- the
    probe must hash the SAME representation the index was built from,
    or a re-fetched PII-bearing doc silently misses its exact match."""
    scrubbed = col
    for _, pat, token in PII_CLASSES:
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    return scrubbed


def scrub_pii_df(df: DataFrame) -> DataFrame:
    """DataFrame-level redaction stage (round 7): replace every
    ``PII_CLASSES`` match in ``text`` with its placeholder token
    (applied in the fixed class order -- the SAME chain the
    ``pii_scrub`` driver query hashes) and append per-class match
    counts ``n_<class>`` measured on the ORIGINAL text.  Pure
    columnar regexp ops, JVM-side, zero shuffle -- safe to insert in
    front of any sink at any corpus size.  Consumed by
    ``jobs/run_pipeline.py --scrub-pii`` to scrub the keep-set before
    chunking/packing."""
    counts = []
    for name, pat, _ in PII_CLASSES:
        counts.append(
            F.regexp_count("text", F.lit(pat))
            .cast("bigint")
            .alias(f"n_{name}")
        )
    keep_cols = [c for c in df.columns if c != "text"]
    return df.select(
        *keep_cols, *counts, pii_scrub_text(F.col("text")).alias("text")
    )


def _pii_scrub_sql() -> str:
    counts = ",\n       ".join(
        f"len(regexp_extract_all(text, '{pat}'))::BIGINT AS n_{name}"
        for name, pat, _ in PII_CLASSES
    )
    scrub = "text"
    for _, pat, token in PII_CLASSES:
        scrub = f"regexp_replace({scrub}, '{pat}', '{token}', 'g')"
    return f"""
SELECT doc_id,
       {counts},
       md5({scrub}) AS scrubbed_hash
FROM documents ORDER BY doc_id
"""


PII_SCRUB_SQL = _pii_scrub_sql()


QUERIES = {
    "pack_concat_split": pack_concat_split,
    "pii_scrub": pii_scrub,
    "quality_histogram_quantiles": quality_histogram_quantiles,
    "contamination_check": contamination_check,
    "dup_span_stats": dup_span_stats,
    "dup_span_scrub": dup_span_scrub,
    "packing_stats": packing_stats,
    "top_terms": top_terms,
    "bigram_pmi": bigram_pmi,
    "tfidf_top_terms": tfidf_top_terms,
    "unigram_logprob_quality": unigram_logprob_quality,
    "lang_id": lang_id,
    "quality_score": quality_score,
    "token_count": token_count,
    "doc_fingerprint": doc_fingerprint,
    "repetition_stats": repetition_stats,
    "doc_chunks": doc_chunks,
    "stratified_sample": stratified_sample,
    "source_mixture_sample": source_mixture_sample,
}

ORACLES = {
    "pack_concat_split": PACK_CONCAT_SPLIT_SQL,
    "pii_scrub": PII_SCRUB_SQL,
    "quality_histogram_quantiles": QUALITY_QUANTILES_SQL,
    "contamination_check": CONTAMINATION_SQL,
    "dup_span_stats": DUP_SPAN_SQL,
    "dup_span_scrub": DUP_SPAN_SCRUB_SQL,
    "packing_stats": PACKING_SQL,
    "top_terms": TOP_TERMS_SQL,
    "bigram_pmi": BIGRAM_PMI_SQL,
    "tfidf_top_terms": TFIDF_SQL,
    "unigram_logprob_quality": UNIGRAM_LOGPROB_SQL,
    "lang_id": LANG_ID_SQL,
    "quality_score": QUALITY_SQL,
    "token_count": TOKEN_COUNT_SQL,
    "doc_fingerprint": FINGERPRINT_SQL,
    "repetition_stats": REPETITION_SQL,
    "doc_chunks": DOC_CHUNKS_SQL,
    "stratified_sample": STRATIFIED_SAMPLE_SQL,
    "source_mixture_sample": SOURCE_MIXTURE_SQL,
}
