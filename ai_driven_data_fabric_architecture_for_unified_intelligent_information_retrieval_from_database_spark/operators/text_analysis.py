"""Text-analysis operators over the ``documents`` table — the language-ID /
quality-scoring / token-counting / fingerprinting stages of an LLM
training-data pipeline (north-star expansion; the reference has no text
surface beyond LIKE filters).

All stages are pure Catalyst expressions over a single scan — at 100 TB
each is embarrassingly parallel with zero shuffle (except the word-frequency
rollup, whose shuffle carries only (word, partial-count) pairs thanks to
map-side combine).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text import (
    LANG_MARKERS,
    SQL_NORMALIZED_TEXT,
    SQL_QUALITY_SCORE,
    normalized_text,
    quality_score_col,
    occurrences,
    shingles_expr,
    sql_occurrences,
    token_count,
    words_col,
)
from ..plans.costing import fits_broadcast
from .registry import query


@query(
    "text_token_count",
    oracle="""
        SELECT doc_id,
               CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
               n_chars
        FROM documents
    """,
    covers="pipeline: token counting (whitespace tokenizer)",
)
def text_token_count(spark, t):
    """Whitespace token counts per document."""
    return t["documents"].select("doc_id", token_count().alias("n_tokens"), "n_chars")


@query(
    "text_word_frequency",
    oracle="""
        SELECT w AS word, COUNT(*) AS n
        FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
        GROUP BY w
        ORDER BY n DESC, word
        LIMIT 20
    """,
    covers="pipeline: corpus vocabulary rollup (explode + count, X-func expansion)",
)
def text_word_frequency(spark, t):
    """Top-20 corpus vocabulary. explode -> partial-agg -> tiny shuffle."""
    return (
        t["documents"]
        .select(F.explode(words_col()).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(20)
    )


def _lang_scores(text_col):
    return {
        lang: sum(occurrences(text_col, m) for m in markers)
        for lang, markers in LANG_MARKERS.items()
    }


def _sql_lang_scores(text_expr):
    return {
        lang: " + ".join(sql_occurrences(text_expr, m) for m in markers)
        for lang, markers in LANG_MARKERS.items()
    }


_S = _sql_lang_scores("(' ' || text || ' ')")

@query(
    "text_lang_id",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, lang,
                   {_S['en']} AS s_en,
                   {_S['es']} AS s_es,
                   {_S['fr']} AS s_fr,
                   {_S['de']} AS s_de
            FROM documents
        )
        SELECT doc_id, lang,
               CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
                    WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
                    WHEN s_fr >= s_de THEN 'fr'
                    ELSE 'de' END AS lang_pred,
               s_en, s_es, s_fr, s_de
        FROM scored
    """,
    covers="pipeline: heuristic language ID (stopword-marker voting)",
)
def text_lang_id(spark, t):
    """N-gram/stopword-marker language ID: count tiny per-language marker
    sets, argmax with a deterministic tie order. A real pipeline swaps the
    marker table for a bigger one — the plan shape (scan-only, no shuffle)
    is the point."""
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    s = _lang_scores(padded)
    pred = (
        F.when((s["en"] >= s["es"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["de"]), "en")
        .when((s["es"] >= s["fr"]) & (s["es"] >= s["de"]), "es")
        .when(s["fr"] >= s["de"], "fr")
        .otherwise("de")
    )
    return t["documents"].select(
        "doc_id",
        "lang",
        pred.alias("lang_pred"),
        s["en"].alias("s_en"),
        s["es"].alias("s_es"),
        s["fr"].alias("s_fr"),
        s["de"].alias("s_de"),
    )


@query(
    "text_quality_score",
    oracle="""
        WITH m AS (
            SELECT doc_id,
                   CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
                   LENGTH(text) AS n_chars_m,
                   LENGTH(REPLACE(text, ' ', '')) AS n_nonspace,
                   LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[0-9]', '', 'g')) AS n_digits
            FROM documents
        )
        SELECT doc_id, n_tokens,
               n_nonspace / CAST(GREATEST(n_tokens, 1) AS DOUBLE) AS avg_word_len,
               n_digits / CAST(GREATEST(n_chars_m, 1) AS DOUBLE) AS digit_ratio,
               0.5 * LEAST(n_tokens / 50.0, 1.0)
                 + 0.5 * (1.0 - n_digits / CAST(GREATEST(n_chars_m, 1) AS DOUBLE))
                 AS quality_score
        FROM m
    """,
    covers="pipeline: document quality scoring (length/digit-ratio heuristics)",
)
def text_quality_score(spark, t):
    """Cheap quality heuristics: length saturation + digit-density penalty.
    Single projection; identical double arithmetic on both engines."""
    d = t["documents"]
    n_tokens = token_count()
    n_chars_m = F.length("text").cast("long")
    n_nonspace = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("long")
    n_digits = (
        F.length("text") - F.length(F.translate("text", "0123456789", ""))
    ).cast("long")
    digit_ratio = n_digits / F.greatest(n_chars_m, F.lit(1)).cast("double")
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        (n_nonspace / F.greatest(n_tokens, F.lit(1)).cast("double")).alias("avg_word_len"),
        digit_ratio.alias("digit_ratio"),
        quality_score_col().alias("quality_score"),
    )


@query(
    "text_fingerprint",
    oracle=f"""
        SELECT doc_id,
               MD5({SQL_NORMALIZED_TEXT.format(t='text')}) AS fingerprint
        FROM documents
    """,
    covers="pipeline: document fingerprinting (normalize + digest; X8 md5 generalized)",
)
def text_fingerprint(spark, t):
    """Canonical-form content fingerprint: lowercase, strip punctuation,
    collapse whitespace, md5. The join key for cheap exact-after-normalize
    dedup across a 100 TB corpus (fingerprint first, compare bytes only on
    hash collisions)."""
    return t["documents"].select(
        "doc_id", F.md5(normalized_text()).alias("fingerprint")
    )


@query(
    "text_shingle_stats",
    oracle="""
        WITH w AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
        ii AS (SELECT doc_id, ws,
                      UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ws) - 2, 1))) AS i
               FROM w),
        sh AS (SELECT DISTINCT doc_id, ARRAY_TO_STRING(ws[i:i+2], ' ') AS sh FROM ii)
        SELECT doc_id, COUNT(*) AS n_distinct_shingles
        FROM sh GROUP BY doc_id
    """,
    covers="pipeline: shingle extraction (3-gram sets, the MinHash input)",
)
def text_shingle_stats(spark, t):
    """Distinct 3-word shingles per document — the set whose Jaccard
    similarity defines near-duplication."""
    return (
        t["documents"]
        .select("doc_id", words_col().alias("ws"))
        .select("doc_id", F.explode(shingles_expr("ws", 3)).alias("sh"))
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_distinct_shingles"))
    )


@query(
    "text_bpe_token_estimate",
    oracle=r"""
        SELECT doc_id,
               CAST(LEN(REGEXP_EXTRACT_ALL(text, '\w+|[^\w\s]')) AS BIGINT)
                   AS n_pieces,
               CAST(LIST_SUM(LIST_TRANSFORM(STRING_SPLIT(text, ' '),
                        w -> CEIL(LENGTH(w) / 4.0))) AS BIGINT) AS bpe_est
        FROM documents
    """,
    covers="pipeline: BPE-ish token estimation (regex word-pieces + len/4 heuristic)",
)
def text_bpe_token_estimate(spark, t):
    """Two LLM-token-count estimators per document, both pure expressions:

    - ``n_pieces``: regex word/punctuation pieces (the pre-tokenizer split
      every BPE vocabulary starts from);
    - ``bpe_est``: the ~4-chars-per-token heuristic, summed per word via a
      higher-order fold (matches how budget estimators are actually run
      over corpora when the real tokenizer is too slow for 100 TB).
    """
    n_pieces = F.regexp_count("text", F.lit(r"\w+|[^\w\s]")).cast("long")
    bpe_est = F.expr(
        "cast(aggregate(transform(split(text, ' '), "
        "w -> cast(ceil(length(w) / 4.0) as double)), "
        "cast(0 as double), (acc, x) -> acc + x) as bigint)"
    )
    return t["documents"].select(
        "doc_id", n_pieces.alias("n_pieces"), bpe_est.alias("bpe_est")
    )


#: Doc-id stride that defines the held-out "benchmark" slice for the
#: decontamination demo (every corpus has doc_id 0..N-1, so % 25 keeps the
#: eval set non-empty from sf0.001 up while staying ~4% of the corpus).
DECONTAM_EVAL_STRIDE = 25
DECONTAM_NGRAM = 5


@query(
    "text_decontaminate",
    oracle=f"""
        WITH w AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
        ii AS (SELECT doc_id, ws,
                      UNNEST(GENERATE_SERIES(1, LEN(ws) - {DECONTAM_NGRAM - 1})) AS i
               FROM w
               WHERE LEN(ws) >= {DECONTAM_NGRAM}),
        sh AS (SELECT DISTINCT doc_id,
                      ARRAY_TO_STRING(ws[i:i+{DECONTAM_NGRAM - 1}], ' ') AS sh
               FROM ii),
        eval_sh AS (SELECT DISTINCT sh FROM sh
                    WHERE doc_id % {DECONTAM_EVAL_STRIDE} = 0),
        hits AS (
            SELECT s.doc_id, COUNT(*) AS n_hits
            FROM sh s JOIN eval_sh e ON s.sh = e.sh
            WHERE s.doc_id % {DECONTAM_EVAL_STRIDE} <> 0
            GROUP BY s.doc_id
        )
        SELECT d.doc_id,
               COALESCE(h.n_hits, 0) AS n_hits,
               COALESCE(h.n_hits, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        WHERE d.doc_id % {DECONTAM_EVAL_STRIDE} <> 0
    """,
    covers="pipeline: benchmark decontamination (n-gram overlap of training "
    "docs against a held-out eval set)",
)
def text_decontaminate(spark, t):
    """Benchmark decontamination: flag every training document sharing any
    5-gram with the held-out eval slice (doc_id % 25 == 0 stands in for a
    benchmark suite), with the distinct-overlap count per document.

    This is the standard pre-training hygiene stage (n-gram collision
    decontamination a la GPT-3/PaLM data cards). The scale shape is the
    right one for 100 TB: eval-set shingles are tiny (benchmarks are MBs)
    and broadcast, so the corpus side is one scan with a map-side-combined
    (doc_id, count) rollup — no corpus-sized shuffle anywhere.

    Round-5 rewrite (the cell's first sf10 bench exposed two lies in the
    r04 plan): per-doc shingle dedup used to run as a corpus-wide
    ``.distinct()`` — a shuffle of every shingle STRING, ~4 GB at sf10,
    directly contradicting the no-corpus-shuffle claim above — and the
    shingles themselves were materialized as strings (array_join per
    position). Now the 5-gram is xxhash64'd straight from its word tuple
    (no string ever built), deduped per-row with native ``array_distinct``
    (per-doc sets are what the count needs — no cross-doc state), and the
    broadcast probe compares longs. Identical output up to 64-bit
    collisions (p ~ 2^-64 per eval/train shingle pair — the
    hashed_shingles argument; the string-shingle oracle stays
    byte-identical at every test SF). Measured at sf10: 9.9 -> 2.6 s,
    and the only shuffles left are the eval-slice distinct and the
    (doc_id, count) rollup.
    """
    d = t["documents"]
    n = DECONTAM_NGRAM
    hash_args = ", ".join(f"try_element_at(ws, i + {k})" for k in range(n))
    distinct_hashes = F.expr(
        f"array_distinct(transform(sequence(1, size(ws) - {n - 1}),"
        f" i -> xxhash64({hash_args})))"
    )
    sh = (
        d.select("doc_id", words_col().alias("ws"))
        .where(F.size("ws") >= n)
        .select("doc_id", F.explode(distinct_hashes).alias("sh"))
    )
    is_eval = F.col("doc_id") % DECONTAM_EVAL_STRIDE == 0
    eval_sh = sh.where(is_eval).select("sh").distinct()
    hits = (
        sh.where(~is_eval)
        .join(F.broadcast(eval_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("h"))
    )
    return (
        d.where(~is_eval)
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("h"), F.lit(0)).alias("n_hits"),
            (F.coalesce(F.col("h"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


@query(
    "text_length_histogram",
    oracle="""
        SELECT CAST(LEN(STRING_SPLIT(text, ' ')) // 10 * 10 AS BIGINT) AS bucket,
               COUNT(*) AS n_docs,
               CAST(MIN(n_chars) AS BIGINT) AS min_chars,
               CAST(MAX(n_chars) AS BIGINT) AS max_chars
        FROM documents
        GROUP BY 1
    """,
    covers="pipeline: corpus length-distribution histogram (data-card stat)",
)
def text_length_histogram(spark, t):
    """Token-length histogram in buckets of 10 — the corpus data-card
    length-distribution stat. Scan + tiny map-side-combined rollup (the
    shuffle carries one row per bucket per partition)."""
    return (
        t["documents"]
        .groupBy(
            (F.floor(token_count() / 10) * 10).cast("long").alias("bucket")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
    )


#: PII patterns shared by the Spark op and its oracle. Kept to the regex
#: subset where Java regex (Spark) and RE2 (DuckDB) agree exactly: character
#: classes, bounded repetition, no lookaround/backreferences.
PII_EMAIL_RE = "[a-z0-9.]+@[a-z0-9.]+[a-z]"
PII_PHONE_RE = "\\+1-555-[0-9]{4}"


@query(
    "text_pii_scrub",
    oracle=f"""
        WITH corpus AS (
            SELECT doc_id,
                   text
                   || CASE WHEN doc_id % 3 = 0
                           THEN ' contact user' || doc_id || '@example.com'
                           ELSE '' END
                   || CASE WHEN doc_id % 5 = 0
                           THEN ' call +1-555-' || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                           ELSE '' END AS text
            FROM documents
        )
        SELECT doc_id,
               CAST(LEN(REGEXP_EXTRACT_ALL(text, '{PII_EMAIL_RE}')) AS BIGINT)
                   AS n_emails,
               CAST(LEN(REGEXP_EXTRACT_ALL(text, '{PII_PHONE_RE}')) AS BIGINT)
                   AS n_phones,
               MD5(REGEXP_REPLACE(REGEXP_REPLACE(text, '{PII_EMAIL_RE}', '[EMAIL]', 'g'),
                                  '{PII_PHONE_RE}', '[PHONE]', 'g')) AS scrubbed_fp
        FROM corpus
    """,
    covers="pipeline: PII detection + redaction (email/phone patterns, "
    "count + scrub fingerprint)",
)
def text_pii_scrub(spark, t):
    """PII scrubbing: detect and redact email addresses and phone numbers,
    returning per-document match counts plus a fingerprint of the redacted
    text (so the driver oracle verifies the exact redaction output, not just
    the counts).

    The driver corpus is synthetic word salad with no PII, so the operator
    deterministically injects emails/phones for doc_id % 3 / % 5 — the same
    re-injection idiom dedup_exact uses for duplicates — and both engines
    build the identical corpus before scrubbing.

    Scale shape: map-only scan, zero shuffle — embarrassingly parallel at
    100 TB. The r04 "structured patterns parallelize fine" claim is now
    MEASURED, not argued (tools/pii_microbench.py at sf10, 500 k docs, the
    tool imports the expression builders below so it times THIS kernel):
    the kernel scales 12-15x across 32 executor threads (round 3's
    char-class anti-scaling failure mode is absent), but Java regex is
    ~7.5x slower per core than DuckDB's RE2 on the same patterns (18.0 s
    vs 2.3 s single-core). Hence the literal guards in
    :func:`pii_scrub_exprs`: both patterns contain a mandatory literal
    ('@', '+1-555-'), so each regex runs only on rows whose text
    ``contains`` that literal — a JVM indexOf scan at memory bandwidth —
    which cuts the kernel 2.1-2.4x (18.0-19.0 -> 7.4-8.8 s single-core,
    1.16-1.23 -> 0.64-0.71 s on 32 threads across idle passes;
    tools/pii_microbench.py JSON) with identical
    output (a regex on a row without its literal cannot match or rewrite
    anything, and NULL text propagates NULL through guard and regex
    alike).
    """
    d = t["documents"]
    n_emails, n_phones, scrubbed = pii_scrub_exprs(F.col("t2"))
    return d.select("doc_id", pii_injected_text().alias("t2")).select(
        "doc_id",
        n_emails.cast("long").alias("n_emails"),
        n_phones.cast("long").alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_fp"),
    )


def pii_injected_text(doc_id="doc_id", text="text"):
    """The deterministic PII-injection expression shared by the operator
    and tools/pii_microbench.py (the microbench must time the operator's
    exact kernel, so the expression tree lives in one place)."""
    return F.concat(
        F.col(text),
        F.when(
            F.col(doc_id) % 3 == 0,
            F.concat(F.lit(" contact user"), F.col(doc_id), F.lit("@example.com")),
        ).otherwise(""),
        F.when(
            F.col(doc_id) % 5 == 0,
            F.concat(
                F.lit(" call +1-555-"),
                F.lpad((F.col(doc_id) % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(""),
    )


def pii_scrub_exprs(t2, guarded: bool = True):
    """(n_emails, n_phones, scrubbed) for a text column ``t2``.

    ``guarded=True`` is the production form: each regex gated on its
    mandatory literal. NULL text yields NULL counts (matching the
    oracle's ``LEN(REGEXP_EXTRACT_ALL(NULL, ...))``) — the guard's
    ``otherwise`` branch multiplies ``length(t2)`` by zero instead of
    emitting a bare 0, so NULL propagates identically to the unguarded
    regex path. ``guarded=False`` is the microbench's A/B reference."""
    zero_or_null = (F.length(t2) * 0).cast("int")
    if not guarded:
        n_emails = F.regexp_count(t2, F.lit(PII_EMAIL_RE))
        n_phones = F.regexp_count(t2, F.lit(PII_PHONE_RE))
        scrubbed = F.regexp_replace(
            F.regexp_replace(t2, PII_EMAIL_RE, "[EMAIL]"), PII_PHONE_RE, "[PHONE]"
        )
        return n_emails, n_phones, scrubbed
    has_at = t2.contains("@")
    has_ph = t2.contains("+1-555-")
    n_emails = F.when(has_at, F.regexp_count(t2, F.lit(PII_EMAIL_RE))).otherwise(
        zero_or_null
    )
    n_phones = F.when(has_ph, F.regexp_count(t2, F.lit(PII_PHONE_RE))).otherwise(
        zero_or_null
    )
    emails_scrubbed = F.when(
        has_at, F.regexp_replace(t2, PII_EMAIL_RE, "[EMAIL]")
    ).otherwise(t2)
    scrubbed = F.when(
        has_ph, F.regexp_replace(emails_scrubbed, PII_PHONE_RE, "[PHONE]")
    ).otherwise(emails_scrubbed)
    return n_emails, n_phones, scrubbed


@query(
    "text_fuzzy_name_pairs",
    oracle="""
        SELECT a.s_suppkey AS a_key, b.s_suppkey AS b_key,
               CAST(LEVENSHTEIN(a.s_name, b.s_name) AS INT) AS dist
        FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
        WHERE LEVENSHTEIN(a.s_name, b.s_name) <= 1
    """,
    covers="pipeline: fuzzy entity matching (bounded Levenshtein pair join)",
)
def text_fuzzy_name_pairs(spark, t):
    """Near-identical supplier names by edit distance <= 1 (the selective
    threshold on this corpus: 900 of 4950 pairs; <=2 matches everything
    because the names differ only in digits) — the record-
    linkage primitive. All-pairs is fine for a dimension table (|supplier|^2
    is small); for fact-scale fuzzy joins, block first (sorted neighborhood
    or LSH on name shingles — see the dedup operators) and run this
    comparison only within blocks."""
    s = t["supplier"]
    a = s.select(F.col("s_suppkey").alias("a_key"), F.col("s_name").alias("a_name"))
    b = s.select(F.col("s_suppkey").alias("b_key"), F.col("s_name").alias("b_name"))
    return (
        a.join(F.broadcast(b), F.col("a_key") < F.col("b_key"))
        .select(
            "a_key",
            "b_key",
            F.levenshtein("a_name", "b_name").alias("dist"),
        )
        .where(F.col("dist") <= 1)
    )


@query(
    "text_repetition_stats",
    oracle="""
        WITH bi AS (
            SELECT doc_id, w1 || ' ' || ws[i + 1] AS bg
            FROM (
                SELECT doc_id, ws, UNNEST(ws) AS w1,
                       UNNEST(RANGE(1, LEN(ws) + 1)) AS i
                FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws
                      FROM documents)
            )
            WHERE i < LEN(ws)
        ),
        per_bg AS (
            SELECT doc_id, bg, COUNT(*) AS c FROM bi GROUP BY doc_id, bg
        ),
        per_doc AS (
            SELECT doc_id,
                   CAST(SUM(c) AS BIGINT) AS n_bigrams,
                   CAST(MAX(c) AS BIGINT) AS top_bigram_n,
                   CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams
            FROM per_bg GROUP BY doc_id
        )
        SELECT doc_id, n_bigrams, top_bigram_n,
               CAST(top_bigram_n AS DOUBLE) / n_bigrams AS top_bigram_frac,
               CAST(n_bigrams - n_distinct_bigrams AS DOUBLE) / n_bigrams
                   AS dup_bigram_frac,
               (CAST(top_bigram_n AS DOUBLE) / n_bigrams > 0.05
                OR CAST(n_bigrams - n_distinct_bigrams AS DOUBLE) / n_bigrams
                   > 0.2) AS flagged
        FROM per_doc
    """,
    covers="pipeline: repetition quality signals (duplicate/top bigram "
    "fractions — the Gopher/C4-style boilerplate filters)",
)
def text_repetition_stats(spark, t):
    """Per-document repetition signals: the fraction of word bigrams that
    are duplicates of an earlier bigram, and the share of the single most
    repeated bigram — the classic repetitive-document quality filters
    (public Gopher/C4-style rules: boilerplate, keyword stuffing, and
    template pages all light these up).

    Round-7 rewrite (the r05 brief's last named deficit; the old form's
    sf10 cell ran 3.6 s / 2.93x DuckDB): the stats are computed entirely
    INSIDE each row, because a document's bigrams all live in its own
    words array — exploding them into a corpus-wide (doc, bigram) count
    was a 120 M-row shuffle to reassemble per-doc state the row already
    had. Now each row xxhash64s its bigrams straight from the word pairs
    (no bigram string is ever built — the text_decontaminate recipe),
    ``array_sort``s the hashes, and folds run-lengths once: equal
    bigrams are adjacent after the sort, so the longest run is the top
    bigram count and the number of runs is the distinct count. ZERO
    shuffles, zero exchanges — a pure map over the corpus, the ideal
    100 TB shape (the old plan's scale story was "bounded shuffle"; this
    one's is "no shuffle"). Per-round A/B (tools/repstats_ab.py, sf10
    min-of-3 same-session): string-explode 3.89 s, hashed-explode
    2.93 s, this form 1.19 s — and all three forms collect identical
    rows at sf0.1 and sf10. The output carries only per-doc COUNTS,
    never bigram values, so results are identical up to a 64-bit hash
    collision WITHIN one document (p ~ n_bigrams^2 / 2^65 per doc —
    vanishing; the string-bigram oracle stays byte-identical at every
    test SF)."""
    hs = (
        "array_sort(transform(sequence(1, size(ws) - 1),"
        " i -> xxhash64(try_element_at(ws, i), try_element_at(ws, i + 1))))"
    )
    # Single left-to-right fold over the sorted hashes: track previous
    # value, current run length, best run length, and run count. All
    # integer arithmetic — both engines emit bit-identical doubles from
    # the exact-integer ratios below.
    stats = (
        "aggregate(hs,"
        " named_struct('prev', cast(null as bigint), 'cur', cast(0 as bigint),"
        "              'best', cast(0 as bigint), 'nd', cast(0 as bigint)),"
        " (a, x) -> named_struct("
        "   'prev', x,"
        "   'cur', IF(a.prev IS NOT NULL AND x = a.prev, a.cur + 1,"
        "             cast(1 as bigint)),"
        "   'best', greatest(a.best, IF(a.prev IS NOT NULL AND x = a.prev,"
        "                               a.cur + 1, cast(1 as bigint))),"
        "   'nd', a.nd + IF(a.prev IS NULL OR x != a.prev, 1, 0)))"
    )
    per_doc = (
        t["documents"]
        .select("doc_id", words_col().alias("ws"))
        # Docs with < 2 words have no bigrams; the oracle drops them via
        # its i < LEN(ws) predicate, this filter drops the same docs (and
        # keeps sequence() off the descending 1..0 edge case).
        .where(F.size("ws") >= 2)
        .select("doc_id", F.expr(hs).alias("hs"))
        .select(
            "doc_id",
            F.size("hs").cast("long").alias("n_bigrams"),
            F.expr(stats).alias("st"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.col("st.best").alias("top_bigram_n"),
            F.col("st.nd").alias("n_distinct_bigrams"),
        )
    )
    top_frac = F.col("top_bigram_n").cast("double") / F.col("n_bigrams")
    dup_frac = (
        F.col("n_bigrams") - F.col("n_distinct_bigrams")
    ).cast("double") / F.col("n_bigrams")
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        "top_bigram_n",
        top_frac.alias("top_bigram_frac"),
        dup_frac.alias("dup_bigram_frac"),
        ((top_frac > 0.05) | (dup_frac > 0.2)).alias("flagged"),
    )


@query(
    "text_tfidf_top_terms",
    oracle="""
        WITH words AS (
            SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w
            FROM documents
        ),
        tf AS (
            SELECT doc_id, w, COUNT(*) AS tf FROM words
            WHERE w <> '' GROUP BY doc_id, w
        ),
        df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.w,
                   CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score
            FROM tf JOIN df USING (w) CROSS JOIN n
        ),
        ranked AS (
            SELECT doc_id, w, score,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, w) AS rn
            FROM scored
        )
        SELECT doc_id, w AS term, score, CAST(rn AS BIGINT) AS rn
        FROM ranked WHERE rn <= 3
    """,
    covers="pipeline: TF-IDF top terms per document (document "
    "keyword/topic extraction over the corpus vocabulary)",
)
def text_tfidf_top_terms(spark, t):
    """Top-3 characteristic terms per document by TF-IDF — the corpus-wide
    keyword extractor (topic tagging, index building, near-dup triage).

    The score is the rank-equivalent rational form ``tf * N / df`` instead
    of the textbook ``tf * ln(N/df)``: ln is monotone, so rankings are
    identical, and the rational form is exact integer arithmetic followed
    by ONE IEEE division — bit-identical across engines, where
    ``Math.log`` vs libm ``log`` is not.

    Plan: one explode feeds both the per-(doc, term) counts and (via a
    second rollup of that relation — never the raw corpus again) the
    document frequencies; the corpus size joins in as a broadcast scalar;
    the df join shuffles (term, df) pairs against the tf relation on the
    term key; the top-3 window partitions per doc. At 100 TB every shuffle
    carries counted pairs, not text bodies, and df/vocabulary relations
    grow sublinearly with the corpus."""
    words = (
        t["documents"]
        .select("doc_id", F.explode(words_col()).alias("w"))
        .where(F.col("w") != "")
    )
    tf = words.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    df_rel = tf.groupBy("w").agg(F.count("*").alias("df"))
    n_docs = t["documents"].agg(F.count("*").alias("n_docs"))
    from pyspark.sql import Window

    # Cost-chosen df join (r08 A/B, sf10 same-session min-of-3:
    # broadcast-vocab 3.26 s vs shuffled 3.69 s): the vocabulary relation
    # grows sublinearly with the corpus, so it usually fits the broadcast
    # budget and the tf side then never re-shuffles on the term key; a
    # vocabulary past the threshold (100 TB web corpora reach 10^8+
    # terms) falls back to the term-key shuffle join.
    if fits_broadcast(spark, df_rel):
        df_rel = F.broadcast(df_rel)
    scored = (
        tf.join(df_rel, "w")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "w",
            (
                (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")
            ).alias("score"),
        )
    )
    w_rank = Window.partitionBy("doc_id").orderBy(F.desc("score"), "w")
    return (
        scored.withColumn("rn", F.row_number().over(w_rank).cast("long"))
        .where(F.col("rn") <= 3)
        .select("doc_id", F.col("w").alias("term"), "score", "rn")
    )


@query(
    "text_unigram_surprisal",
    oracle="""
        WITH tok AS (
            SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w
            FROM documents
        ),
        tf AS (
            SELECT doc_id, w, COUNT(*) AS tf FROM tok
            WHERE w <> '' GROUP BY doc_id, w
        ),
        freq AS (SELECT w, CAST(SUM(tf) AS BIGINT) AS c FROM tf GROUP BY w),
        n AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM freq)
        SELECT tf.doc_id,
               CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
               CAST(SUM(tf.tf * (n.total // f.c)) AS BIGINT)
                   AS surprisal_units,
               CAST(MAX(n.total // f.c) AS BIGINT) AS rarest_unit
        FROM tf JOIN freq f USING (w) CROSS JOIN n
        GROUP BY tf.doc_id
    """,
    covers="pipeline: unigram-LM surprisal scoring (corpus-language-model "
    "rarity filter — the perplexity-style quality gate, in the exact "
    "rational form)",
)
def text_unigram_surprisal(spark, t):
    """Score each document by how surprising its tokens are under the
    corpus's own unigram language model — the perplexity-style filter a
    curation pipeline uses to catch gibberish (very high surprisal) and
    boilerplate (very low). Each token instance contributes its integer
    inverse probability ``N // c_w`` (corpus instances over the token's
    count); the output carries the per-document sum, token count, and
    the rarest single token's unit.

    The score is the exact RATIONAL surprisal, not the textbook mean
    ``-ln p``: the tfidf_top_terms precedent — Math.log vs libm log can
    differ in the last ulp, and this engine's determinism contract
    (driver value-hash) does not admit transcendentals in emitted
    values. Integer floor-division is bit-exact on both engines, and
    per-token inverse probability orders tokens identically to -ln p.

    Plan shape (the tfidf discipline): ONE corpus explode feeds a
    per-(doc, term) tf rollup, and BOTH the vocabulary counts and the
    corpus total derive from that rollup's exchange — never from a
    second corpus scan (the first cut scanned documents three times;
    AQE's runtime stage reuse collapses the tf subtrees, verified
    ReusedExchange=2 in the FINAL adaptive plan — the pre-execution
    tree hides it). The vocabulary join is cost-chosen exactly like
    tfidf's: broadcast while the vocabulary fits the budget, term-key
    shuffle join past it (10^8+-term web-corpus vocabularies). The
    per-doc rollup re-aggregates tf-grain rows; no text bodies move
    after the explode. Per-term products stay in int64 range to ~1e13
    corpus tokens x 1e3-token docs (1e16 < 2^63)."""
    inst = (
        t["documents"]
        .select("doc_id", F.explode(words_col()).alias("w"))
        .where(F.col("w") != "")
    )
    tf = inst.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    freq = tf.groupBy("w").agg(F.sum("tf").alias("c"))
    total = freq.agg(F.sum("c").alias("total"))
    # Integer DIV, not floor(double /): double division of two longs is
    # floor-safe only below ~9e15 total tokens — a 100 TB corpus sits
    # close enough to that line that exact-by-construction is the only
    # defensible form (DuckDB's // is integer division already).
    units = F.expr("total DIV c")
    if fits_broadcast(spark, freq):
        freq = F.broadcast(freq)
    return (
        tf.join(freq, "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * units).alias("surprisal_units"),
            F.max(units).alias("rarest_unit"),
        )
    )


@query(
    "text_bigram_surprisal",
    oracle="""
        WITH ws AS (
            SELECT doc_id,
                   LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '') AS ws
            FROM documents
        ),
        bg AS (
            SELECT doc_id,
                   UNNEST(LIST_TRANSFORM(
                       GENERATE_SERIES(1, LEN(ws) - 1),
                       i -> struct_pack(w1 := ws[CAST(i AS INT)],
                                        w2 := ws[CAST(i AS INT) + 1]))) AS p
            FROM ws WHERE LEN(ws) >= 2
        ),
        tf AS (
            SELECT doc_id, p.w1 AS w1, p.w2 AS w2, COUNT(*) AS tf
            FROM bg GROUP BY doc_id, p.w1, p.w2
        ),
        cnt AS (SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS c12
                FROM tf GROUP BY w1, w2),
        pre AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1
                FROM cnt GROUP BY w1)
        SELECT tf.doc_id,
               CAST(SUM(tf.tf) AS BIGINT) AS n_transitions,
               CAST(SUM(tf.tf * (pre.c1 // cnt.c12)) AS BIGINT)
                   AS surprisal_units,
               CAST(MAX(pre.c1 // cnt.c12) AS BIGINT) AS rarest_unit
        FROM tf
        JOIN cnt USING (w1, w2)
        JOIN pre USING (w1)
        GROUP BY tf.doc_id
    """,
    covers="pipeline: bigram-LM conditional surprisal (second-order "
    "corpus-language-model quality gate — catches shuffled/templated "
    "text the unigram model scores as normal)",
)
def text_bigram_surprisal(spark, t):
    """Score each document under the corpus's own BIGRAM language model:
    every token transition contributes its exact integer inverse
    conditional probability ``c(w1) // c(w1, w2)`` (occurrences of the
    prefix over occurrences of the transition). The unigram gate
    (text_unigram_surprisal) cannot distinguish shuffled or
    token-sampled gibberish from real prose — every token is
    individually common — while transitions expose it (the standard
    second-order LM filter a curation pipeline runs next).

    Same exactness contract as the unigram entry: integer DIV, no
    transcendentals, so the driver's value hash is bit-stable across
    engines. Plan shape: the bigram instances are generated INSIDE the
    words-array transform (adjacent pairs — no self-join, no window over
    token position), one explode feeds the per-(doc, w1, w2) tf rollup,
    and BOTH model relations — transition counts and prefix totals —
    derive from that rollup's exchange (the tfidf/surprisal exchange-
    reuse discipline). The model join is cost-chosen: broadcast while
    the transition vocabulary fits the budget, key-shuffle past it
    (bigram vocabularies outgrow unigram ones quickly — 10^9+ on web
    corpora — so the fallback is the expected 100 TB path). Documents
    with fewer than two non-empty tokens have no transitions and are
    absent from the output on both engines."""
    pairs = F.expr(
        "transform(sequence(1, size(ws) - 1),"
        " i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))"
    )
    bg = (
        t["documents"]
        .select(
            "doc_id",
            F.expr("filter(split(text, ' '), x -> x <> '')").alias("ws"),
        )
        .where(F.size("ws") >= 2)
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    tf = bg.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("tf"))
    cnt = tf.groupBy("w1", "w2").agg(F.sum("tf").alias("c12"))
    pre = cnt.groupBy("w1").agg(F.sum("c12").alias("c1"))
    units = F.expr("c1 DIV c12")
    if fits_broadcast(spark, cnt):
        cnt = F.broadcast(cnt)
    if fits_broadcast(spark, pre):
        pre = F.broadcast(pre)
    return (
        tf.join(cnt, ["w1", "w2"])
        .join(pre, "w1")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_transitions"),
            F.sum(F.col("tf") * units).alias("surprisal_units"),
            F.max(units).alias("rarest_unit"),
        )
    )


@query(
    "text_quality_calibrated",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, source, {SQL_QUALITY_SCORE.format(t='text')} AS q
            FROM documents
        ),
        ranked AS (
            SELECT source, q,
                   PERCENT_RANK() OVER (PARTITION BY source
                                        ORDER BY q, doc_id) AS pr
            FROM scored
        )
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN pr >= 0.2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               MIN(CASE WHEN pr >= 0.2 THEN q END) AS min_kept_q
        FROM ranked GROUP BY source
    """,
    covers="pipeline: per-source calibrated quality gate (percent-rank "
    "within source, bottom-quintile drop — absolute thresholds misfire "
    "when sources have different score distributions)",
)
def text_quality_calibrated(spark, t):
    """Per-source quality calibration: rank each document's quality score
    WITHIN its source and drop the bottom quintile per source — the
    curation-pipeline fix for absolute thresholds, which over-prune
    clean-but-terse sources and under-prune verbose-but-noisy ones
    (every source contributes exactly its top 80%). Output is the
    per-source audit row: corpus size, kept count, and the calibrated
    cut score the quantile landed on.

    Shares the ONE quality kernel (functions/text.py::quality_score_col
    and its SQL twin) with text_quality_score, the curation funnel, and
    the cluster-representative picker. The percent_rank ties are broken
    by doc_id so both engines rank identically.

    Scale shape: one window partitioned by source — source cardinality
    is bounded (thousands of domains), so the sort is per-source and
    parallel. A pathologically skewed source (one domain = half the
    corpus) would route to approx-quantile calibration instead
    (percentile_approx per source, then a broadcast threshold join —
    the agg_percentiles primitive); the exact window form is right while
    per-source partitions fit a task."""
    from pyspark.sql import Window

    from ..functions.text import quality_score_col

    scored = t["documents"].select(
        "doc_id", "source", quality_score_col().alias("q")
    )
    w = Window.partitionBy("source").orderBy("q", "doc_id")
    ranked = scored.select("source", "q", F.percent_rank().over(w).alias("pr"))
    kept = F.when(F.col("pr") >= 0.2, F.col("q"))
    return ranked.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("pr") >= 0.2, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.min(kept).alias("min_kept_q"),
    )


@query(
    "text_bpe_merge_candidates",
    oracle="""
        WITH w AS (
            SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
        ),
        p AS (
            SELECT UNNEST(LIST_TRANSFORM(
                       GENERATE_SERIES(1, LENGTH(w) - 1),
                       i -> SUBSTRING(w, CAST(i AS INT), 2))) AS pair
            FROM w WHERE LENGTH(w) >= 2
        )
        SELECT pair, COUNT(*) AS n_occurrences
        FROM p GROUP BY pair
        ORDER BY n_occurrences DESC, pair
        LIMIT 20
    """,
    covers="pipeline: BPE vocabulary induction, step one — corpus-wide "
    "adjacent-symbol pair counting within words (the merge-candidate "
    "ranking a distributed tokenizer trainer computes each round)",
)
def text_bpe_merge_candidates(spark, t):
    """Top-20 BPE merge candidates: the first iteration of byte-pair
    encoding training counts every adjacent symbol pair inside every word
    occurrence across the corpus and merges the most frequent — this
    entry computes exactly that ranking at the character level (step 0,
    where every symbol is one char), completing the tokenizer surface
    beside the ESTIMATORS in text_bpe_token_estimate.

    Plan shape: one corpus scan, two bounded explodes (words, then the
    length-1 char bigrams of each word — output is linear in corpus
    bytes, never quadratic), one hash rollup with map-side combine on
    2-char keys, TakeOrderedAndProject for the top-k. At 100 TB this is
    the canonical distributed BPE-trainer round: the pair-count rollup
    is the only exchange and its key domain is tiny (|alphabet|^2), so
    the partial aggregation collapses almost everything map-side and the
    exchange carries a few thousand rows per partition regardless of
    corpus size; successive merge rounds re-run the same plan over
    re-segmented words.

    Words shorter than 2 chars are filtered on BOTH engines before pair
    generation: Spark's sequence(1, 0) counts DOWN ([1, 0]) instead of
    returning the empty list DuckDB's GENERATE_SERIES yields — an
    engine-semantics trap the explicit filter removes outright."""
    return (
        t["documents"]
        .select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1),"
                    " i -> substring(w, i, 2))"
                )
            ).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(20)
    )
