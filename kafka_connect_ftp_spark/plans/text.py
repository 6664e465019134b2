"""Text-analysis and deduplication operators over the ``documents`` table —
the LLM-training-pipeline operator set (BASELINE.json north star).

All hot-path logic stays JVM-side: tokenization, shingling, minhashing, and
simhash are built from higher-order array functions (``transform`` /
``filter`` / ``aggregate``) + ``md5``, so whole-stage codegen applies and no
Python UDF sits in the per-row path. md5 is used (instead of the cheaper
xxhash64) because the DuckDB oracle must compute bit-identical hashes; a
production deployment would swap in ``F.xxhash64`` via the HASH_FN knob.

Scale notes (100 TB): every query here is a scan + explode + hash-agg with
shuffles keyed on doc_id or shingle. The shingle-keyed joins cap shingle
document-frequency (stop-shingle removal) so no reduce key explodes
quadratically; minhash-LSH replaces the O(n²) pairwise scan with banded
bucket joins, which is the standard web-scale near-dup design.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_ftp_spark.ingest.model import local_frame
from kafka_connect_ftp_spark.plans import ORACLE_MAX_TOKENS, register
from kafka_connect_ftp_spark.session import balanced, load_tables, session_memo

# tokens = non-empty chunks of a single-space split (documents are
# lower-case word soup; both engines keep empty strings on split)
_TOKS = "filter(split(text, ' '), x -> x <> '')"
_DUCK_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"


def _docs(spark, sf_dir):
    return load_tables(spark, sf_dir, "documents")["documents"]


def _docs_balanced(spark, sf_dir):
    """The documents scan through ``balanced``, memoized per (session,
    sf_dir): the partition-count probe costs ~0.15 s of driver/JVM work,
    and five registry queries build this same frame."""
    return session_memo(
        spark,
        ("balanced_docs", sf_dir),
        lambda: (balanced(_docs(spark, sf_dir), spark, "doc_id"), True),
    )


# DSIR knobs shared by the vocab_coverage gate columns and their oracle
# (operators/dsir.py defaults; target = the src0-4 slice, the
# trusted-reference convention of the quality classifier)
_DSIR_B = 512
_DSIR_A = 0.5
_DSIR_K = 100
_DENOM = float(1 << 52)
_ULP = 1.0 / _DENOM


_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "los", "una", "que", "por"],
    "fr": ["le", "les", "et", "dans", "pour"],
}


def _hits_expr_duck(words):
    arr = ", ".join(f"'{w}'" for w in words)
    return f"LEN(list_filter({_DUCK_TOKS}, x -> x IN ({arr})))"


_TOKEN_RX = "[a-z]+|[0-9]+|[^a-z0-9 ]"

# lang-ID prediction CASE, shared by the oracle string below
_LANG_CASE_DUCK = f"""CASE
             WHEN {_hits_expr_duck(_STOPWORDS['en'])} = 0
              AND {_hits_expr_duck(_STOPWORDS['de'])} = 0
              AND {_hits_expr_duck(_STOPWORDS['es'])} = 0
              AND {_hits_expr_duck(_STOPWORDS['fr'])} = 0 THEN 'und'
             WHEN {_hits_expr_duck(_STOPWORDS['en'])} >= {_hits_expr_duck(_STOPWORDS['de'])}
              AND {_hits_expr_duck(_STOPWORDS['en'])} >= {_hits_expr_duck(_STOPWORDS['es'])}
              AND {_hits_expr_duck(_STOPWORDS['en'])} >= {_hits_expr_duck(_STOPWORDS['fr'])} THEN 'en'
             WHEN {_hits_expr_duck(_STOPWORDS['de'])} >= {_hits_expr_duck(_STOPWORDS['es'])}
              AND {_hits_expr_duck(_STOPWORDS['de'])} >= {_hits_expr_duck(_STOPWORDS['fr'])} THEN 'de'
             WHEN {_hits_expr_duck(_STOPWORDS['es'])} >= {_hits_expr_duck(_STOPWORDS['fr'])} THEN 'es'
             ELSE 'fr'
           END"""


# C4-gate augmentation (operators/c4_filter.py): the synthetic docs are
# single-line and punctuation-free, so the C4 rules on raw text would be
# vacuous. Both engines build the SAME multi-line page from table values
# (the governance-PII augmentation pattern): line 1 = two sentences,
# line 2 = a one-word stub (dropped), then per-row-conditional lines
# exercising the javascript marker, the sentence-count page rule
# (doc_id%4==0 pages retain only 2 sentences), the curly-brace and the
# lorem-ipsum page rejections.
_C4_W1_SPARK = "coalesce(element_at(filter(split(text, ' '), x -> x <> ''), 1), 'word')"
_C4_W1_DUCK = f"COALESCE(({_DUCK_TOKS})[1], 'word')"
_C4_AUG_SPARK = (
    "concat('First phrase. Second phrase about ', {w}, '.',"
    " '\\n', {w},"
    " CASE WHEN doc_id % 5 = 0 THEN '\\nPlease enable javascript to continue.' ELSE '' END,"
    " CASE WHEN doc_id % 4 <> 0 THEN concat('\\nAnother fine sentence mentions ', {w}, '.') ELSE '' END,"
    " CASE WHEN doc_id % 7 = 0 THEN '\\n{{ }}' ELSE '' END,"
    " CASE WHEN doc_id % 11 = 0 THEN '\\nlorem ipsum dolor' ELSE '' END)"
).format(w=_C4_W1_SPARK)
_C4_AUG_DUCK = (
    "'First phrase. Second phrase about ' || {w} || '.'"
    " || chr(10) || {w}"
    " || CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'Please enable javascript to continue.' ELSE '' END"
    " || CASE WHEN doc_id % 4 <> 0 THEN chr(10) || 'Another fine sentence mentions ' || {w} || '.' ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN chr(10) || '{{ }}' ELSE '' END"
    " || CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'lorem ipsum dolor' ELSE '' END"
).format(w=_C4_W1_DUCK)
# Script-level dispatch (operators/lang_id.py classify_script, round 9):
# the synthetic docs are ASCII-only, so the gate exercises the operator
# over a deterministically script-routed PROBE column built identically
# in both engines (the C4/governance augmentation pattern): 1/10 of rows
# each get a Cyrillic / Greek / Han / Arabic / Hangul / Devanagari /
# Kana / Hebrew / Thai literal or a digits-only string, the rest keep
# their real (Latin) text. The oracle twin regenerates the count-argmax chain
# from the SAME SCRIPT_RANGES literals.
_SCRIPT_PROBE_RU = (
    "однажды весною в час заката в москве появились два гражданина"
)
_SCRIPT_PROBE_EL = "η ελλάδα είναι μια όμορφη χώρα με πλούσια ιστορία"
_SCRIPT_PROBE_HAN = "今天天气很好我们一起去公园散步吧然后喝茶聊天"
_SCRIPT_PROBE_NUM = "12345 67890 ++--"
# round 9b: one probe branch per newly-profiled script (ar/ko/hi/ja);
# round 10: hebrew joined the trained set and THAI pins the
# UNPROFILED-script fallback (ct_lang_routed = the script label)
# inside the hash gate
_SCRIPT_PROBE_AR = "الطقس جميل اليوم وذهبنا الى الحديقة في المساء مع الاصدقاء"
_SCRIPT_PROBE_KO = "오늘은 날씨가 좋아서 우리는 공원에 가서 산책을 하고 차를 마셨다"
_SCRIPT_PROBE_HI = "आज मौसम अच्छा है और हम बगीचे में टहलने गए फिर चाय पी"
_SCRIPT_PROBE_JA = "きょうはてんきがよくてこうえんをさんぽしてからおちゃをのみました"
_SCRIPT_PROBE_HE = "מזג האוויר יפה היום והלכנו לטייל בגן ואחר כך שתינו תה"
# round 10: hebrew is TRAINED now (he profile) — the unprofiled-script
# fallback moves to a thai probe branch, so both paths keep hash-gate
# coverage; the modulus widens 10 -> 11 to fit it (identically in both
# engines — the probe is the same literal CASE)
_SCRIPT_PROBE_TH = "อากาศวันนี้ดีมากเราไปเดินเล่นในสวนสาธารณะแล้วดื่มชากัน"
_SCRIPT_PROBE_CASE = (
    f"CASE WHEN doc_id % 11 = 1 THEN '{_SCRIPT_PROBE_RU}'"
    f" WHEN doc_id % 11 = 2 THEN '{_SCRIPT_PROBE_EL}'"
    f" WHEN doc_id % 11 = 3 THEN '{_SCRIPT_PROBE_HAN}'"
    f" WHEN doc_id % 11 = 4 THEN '{_SCRIPT_PROBE_NUM}'"
    f" WHEN doc_id % 11 = 5 THEN '{_SCRIPT_PROBE_AR}'"
    f" WHEN doc_id % 11 = 6 THEN '{_SCRIPT_PROBE_KO}'"
    f" WHEN doc_id % 11 = 7 THEN '{_SCRIPT_PROBE_HI}'"
    f" WHEN doc_id % 11 = 8 THEN '{_SCRIPT_PROBE_JA}'"
    f" WHEN doc_id % 11 = 9 THEN '{_SCRIPT_PROBE_HE}'"
    f" WHEN doc_id % 11 = 10 THEN '{_SCRIPT_PROBE_TH}'"
    " ELSE text END"
)


def _script_cte() -> str:
    from kafka_connect_ftp_spark.operators.lang_id import SCRIPT_RANGES

    scripts = sorted(SCRIPT_RANGES)
    counts = ", ".join(
        f"len(regexp_extract_all(probe, '[{SCRIPT_RANGES[s]}]')) AS c_{i}"
        for i, s in enumerate(scripts)
    )
    g = "greatest(" + ", ".join(f"c_{i}" for i in range(len(scripts))) + ")"
    case = (
        f"CASE WHEN {g} = 0 THEN 'und' "
        + " ".join(f"WHEN c_{i} = {g} THEN '{s}'" for i, s in enumerate(scripts))
        + " END"
    )
    return f"""
    scr_cnt AS (
      SELECT doc_id, {counts}
      FROM (SELECT doc_id, {_SCRIPT_PROBE_CASE} AS probe FROM documents)
    ),
    scr_best AS (SELECT doc_id, {case} AS ct_script FROM scr_cnt)"""


# Trained Cavnar–Trenkle lang-ID (operators/lang_id.py) oracle twins:
# the ENTIRE train+classify chain re-derived in SQL — seed literals,
# normalization, trigram explode, rank profiles, out-of-place distance,
# argmin. Integer arithmetic end to end, so the hash gate is exact.
_CT_TOPN = 64

# trained CT profiles memoized per process (the crawl _FIXTURE_CACHE
# convention): the seed corpus is a module literal, so each profile
# table is a pure function of _CT_TOPN — retraining it on every
# text_profile plan build (a Spark job + collect) charged ~1.5s of
# driver time to each bench sample for identical rows. The tables come
# back as LocalRelation frames, which the classifiers collect without
# running a job.
_PROF_TABLES: dict = {}  # "ct" | "rt" -> pyarrow Table (lang, gram, rank)
_PROF_SCHEMA = T.StructType(
    [
        T.StructField("lang", T.StringType()),
        T.StructField("gram", T.StringType()),
        T.StructField("rank", T.IntegerType()),
    ]
)


def _trained_profiles(spark, key, train):
    table = _PROF_TABLES.get(key)
    if table is None:
        table = _PROF_TABLES[key] = train().toArrow()
    return local_frame(spark, _PROF_SCHEMA, table)


def _ct_profiles(spark):
    from kafka_connect_ftp_spark.operators.lang_id import seed_frame, train_char_profiles

    return _trained_profiles(
        spark, "ct", lambda: train_char_profiles(seed_frame(spark), top_n=_CT_TOPN)
    )


def _rt_profiles(spark):
    """The ROUTED profile table (full seed corpus, union alphabet),
    memoized like ``_ct_profiles`` — train-once/classify-many."""
    from kafka_connect_ftp_spark.operators.lang_id import (
        NORM_KEEP_ROUTED,
        SEED_TEXTS_ROUTED,
        seed_frame,
        train_char_profiles,
    )

    return _trained_profiles(
        spark,
        "rt",
        lambda: train_char_profiles(
            seed_frame(spark, SEED_TEXTS_ROUTED), top_n=_CT_TOPN, norm_keep=NORM_KEEP_ROUTED
        ),
    )


def _ct_norm_duck(col: str, norm_keep: str | None = None) -> str:
    from kafka_connect_ftp_spark.operators.lang_id import NORM_KEEP

    keep = NORM_KEEP if norm_keep is None else norm_keep
    t = (
        f"trim(regexp_replace(regexp_replace(lower(coalesce({col}, '')),"
        f" '[^{keep} ]', ' ', 'g'), ' +', ' ', 'g'))"
    )
    return f"CASE WHEN {t} = '' THEN '' ELSE ' ' || {t} || ' ' END"


def _ct_grams_duck(p: str) -> str:
    # range(1, len-1) = positions of the len-2 trigrams; empty below 3
    return (
        f"list_transform(range(1, greatest(length({p}) - 1, 1)),"
        f" i -> substr({p}, CAST(i AS INT), 3))"
    )


def _ct_seed_values(texts: dict[str, str]) -> str:
    return ", ".join(
        "('{}', '{}')".format(lang, txt.replace("'", "''"))
        for lang, txt in sorted(texts.items())
    )


def _ct_cte_block(
    px: str, texts: dict[str, str], doc_expr: str, norm_keep: str | None = None
) -> str:
    """The trained-CT oracle twin (seed VALUES → trigram profiles →
    per-doc ranked profile → out-of-place distance) as a prefixed CTE
    block — generated once for the unrouted classifier (``ct_``, the 4
    Latin seeds over ``text``) and once for the ROUTED one (``rt_``,
    the full routed seed corpus over the script-probe column with the
    union normalization alphabet). ``{px}_dist`` is (doc_id, lang,
    dist); callers pick the argmin."""
    return f"""
    {px}_seed(lang, stext) AS (VALUES {_ct_seed_values(texts)}),
    {px}_sg AS (
      SELECT lang, unnest({_ct_grams_duck('p')}) AS gram
      FROM (SELECT lang, {_ct_norm_duck('stext', norm_keep)} AS p FROM {px}_seed)
    ),
    {px}_prof AS (
      SELECT lang, gram, rnk FROM (
        SELECT lang, gram,
               row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, gram ASC) AS rnk
        FROM (SELECT lang, gram, count(*) AS cnt FROM {px}_sg GROUP BY lang, gram)
      ) WHERE rnk <= {_CT_TOPN}
    ),
    {px}_dg AS (
      SELECT doc_id, unnest({_ct_grams_duck('p')}) AS gram
      FROM (SELECT doc_id, {_ct_norm_duck('dtext', norm_keep)} AS p
            FROM (SELECT doc_id, {doc_expr} AS dtext FROM documents))
    ),
    {px}_dprof AS (
      SELECT doc_id, gram, drnk FROM (
        SELECT doc_id, gram,
               row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS drnk
        FROM (SELECT doc_id, gram, count(*) AS cnt FROM {px}_dg GROUP BY doc_id, gram)
      ) WHERE drnk <= {_CT_TOPN}
    ),
    {px}_m AS (SELECT doc_id, count(*) AS m FROM {px}_dprof GROUP BY doc_id),
    {px}_match AS (
      SELECT d.doc_id, p.lang, SUM(ABS(d.drnk - p.rnk)) AS msum, COUNT(*) AS mn
      FROM {px}_dprof d JOIN {px}_prof p USING (gram) GROUP BY d.doc_id, p.lang
    ),
    {px}_dist AS (
      SELECT {px}_m.doc_id, l.lang,
             COALESCE(mm.msum, 0) + ({px}_m.m - COALESCE(mm.mn, 0)) * {_CT_TOPN} AS dist
      FROM {px}_m CROSS JOIN (SELECT DISTINCT lang FROM {px}_prof) l
      LEFT JOIN {px}_match mm ON mm.doc_id = {px}_m.doc_id AND mm.lang = l.lang
    )"""


def _ct_ctes() -> str:
    from kafka_connect_ftp_spark.operators.lang_id import SEED_TEXTS

    return (
        _ct_cte_block("ct", SEED_TEXTS, "text")
        + f""",
    ct_best AS (
      SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY doc_id ORDER BY dist, lang) AS rn
        FROM ct_dist
      ) WHERE rn = 1
    )"""
    )


def _rt_ctes() -> str:
    """Routed-classifier oracle twin (round 9b): the script dispatch
    (``scr_best``, shared) restricts the out-of-place argmin to the
    languages of the document's script (``rt_lsc``); an UNPROFILED
    script falls back to the script label, a profiled-script document
    with no grams to ``'und'`` — exactly
    ``operators/lang_id.py:classify_lang_routed``."""
    from kafka_connect_ftp_spark.operators.lang_id import (
        NORM_KEEP_ROUTED,
        SCRIPT_OF_LANG,
        SEED_TEXTS_ROUTED,
    )

    lsc = ", ".join(
        f"('{lg}', '{SCRIPT_OF_LANG[lg]}')" for lg in sorted(SEED_TEXTS_ROUTED)
    )
    profiled = ", ".join(
        f"'{s}'" for s in sorted({SCRIPT_OF_LANG[lg] for lg in SEED_TEXTS_ROUTED})
    )
    return (
        _ct_cte_block("rt", SEED_TEXTS_ROUTED, _SCRIPT_PROBE_CASE, NORM_KEEP_ROUTED)
        + f""",
    rt_lsc(lang, script) AS (VALUES {lsc}),
    rt_best AS (
      SELECT doc_id, lang FROM (
        SELECT d.doc_id, d.lang,
               row_number() OVER (PARTITION BY d.doc_id ORDER BY d.dist, d.lang) AS rn
        FROM rt_dist d
        JOIN rt_lsc l ON l.lang = d.lang
        JOIN scr_best s ON s.doc_id = d.doc_id AND s.ct_script = l.script
      ) WHERE rn = 1
    ),
    rt_pick AS (
      SELECT s.doc_id,
             CASE WHEN s.ct_script NOT IN ({profiled}) THEN s.ct_script
                  ELSE COALESCE(rt_best.lang, 'und') END AS ct_lang_routed
      FROM scr_best s LEFT JOIN rt_best USING (doc_id)
    )"""
    )


# the oracle twin of the operator's line lambda
_C4_KEPT_DUCK = (
    "list_filter(string_split(aug, chr(10)), ln ->"
    " regexp_matches(ln, '[.!?\"]$')"
    " AND len(list_filter(string_split(ln, ' '), w -> w <> '')) >= 3"
    " AND NOT regexp_matches(lower(ln), 'javascript'))"
)


@register(
    "text_profile",
    f"""
    WITH c4 AS (
      SELECT doc_id, aug,
             {_C4_KEPT_DUCK} AS kept,
             array_to_string({_C4_KEPT_DUCK}, chr(10)) AS ktext
      FROM (SELECT doc_id, {_C4_AUG_DUCK} AS aug FROM documents)
    ),
    c4f AS (
      SELECT doc_id,
             CAST(len(string_split(aug, chr(10))) AS BIGINT) AS c4_n_lines,
             CAST(len(kept) AS BIGINT) AS c4_kept_lines,
             CAST(len(regexp_extract_all(ktext, '[.!?]')) AS BIGINT) AS c4_sentences,
             (len(regexp_extract_all(ktext, '[.!?]')) >= 3
              AND NOT contains(lower(aug), 'lorem ipsum')
              AND NOT contains(aug, '{{')) AS c4_keep,
             md5(ktext) AS c4_fp
      FROM c4
    ),
    {_ct_ctes()},
    {_script_cte()},
    {_rt_ctes()}
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS n_chars_calc,
           CAST(LEN({_DUCK_TOKS}) AS BIGINT) AS n_tokens,
           CAST(LEN(list_distinct({_DUCK_TOKS})) AS BIGINT) AS n_distinct_tokens,
           ROUND(CAST(LEN(list_distinct({_DUCK_TOKS})) AS DOUBLE)
                 / LEN({_DUCK_TOKS}), 4) AS distinct_ratio,
           ROUND(CAST(list_sum(list_transform({_DUCK_TOKS}, x -> LENGTH(x))) AS DOUBLE)
                 / LEN({_DUCK_TOKS}), 4) AS avg_token_len,
           ROUND((CAST(LEN(list_distinct({_DUCK_TOKS})) AS DOUBLE) / LEN({_DUCK_TOKS}))
                 * (LEAST(LEN({_DUCK_TOKS}), 64) / 64.0), 4) AS quality_score,
           CAST({_hits_expr_duck(_STOPWORDS['en'])} AS BIGINT) AS en_hits,
           CAST({_hits_expr_duck(_STOPWORDS['de'])} AS BIGINT) AS de_hits,
           CAST({_hits_expr_duck(_STOPWORDS['es'])} AS BIGINT) AS es_hits,
           CAST({_hits_expr_duck(_STOPWORDS['fr'])} AS BIGINT) AS fr_hits,
           {_LANG_CASE_DUCK} AS pred_lang,
           COALESCE(ct_best.lang, 'und') AS ct_lang,
           scr_best.ct_script,
           rt_pick.ct_lang_routed,
           CAST(LEN(regexp_extract_all(text, '{_TOKEN_RX}')) AS BIGINT) AS n_bpe_tokens,
           CAST(LEN(list_distinct(regexp_extract_all(text, '{_TOKEN_RX}'))) AS BIGINT)
             AS n_distinct_bpe_tokens,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                   ' +', ' ', 'g'))) AS norm_fp,
           c4f.c4_n_lines, c4f.c4_kept_lines, c4f.c4_sentences,
           c4f.c4_keep, c4f.c4_fp
    FROM documents JOIN c4f USING (doc_id)
    JOIN scr_best USING (doc_id)
    JOIN rt_pick USING (doc_id)
    LEFT JOIN ct_best USING (doc_id) ORDER BY doc_id
    """,
    doc=(
        "Per-document text profile: token counts + quality score "
        "(length/diversity heuristics), stopword-list language-ID "
        "(deterministic tie-break en>de>es>fr) PLUS the round-8 TRAINED "
        "Cavnar–Trenkle char-trigram classifier (operators/lang_id.py: "
        "rank profiles fitted on a literal seed corpus, out-of-place "
        "distance, integer-exact in both engines — ct_lang), the round-9 "
        "script dispatch (ct_script, codepoint-range count argmax over a "
        "deterministically script-routed probe column) and the round-9b "
        "ROUTED classifier (ct_lang_routed: the argmin restricted to the "
        "probe script's trained languages over the full 12-language seed "
        "corpus — ru/el/zh/ja/ar/ko/hi/he probes classify their language, "
        "the unprofiled thai probe falls back to the script label), "
        "BPE-ish regex token counts "
        "(letter runs / digit runs / single punctuation — the GPT-style "
        "pre-tokenizer split), and the md5 of the normalized text "
        "(lowercase, strip non-alnum, collapse spaces) for canonical-form "
        "matching, plus the C4 cleaning rules (operators/c4_filter.py, "
        "Raffel et al. 2020) absorbed in round 7: line rules (terminal "
        "punctuation, >= 3 words, no javascript marker) and page rules "
        "(>= 3 retained sentences — explicit knob, the operator default "
        "is the paper's 5 which the <=3-sentence augmented pages would "
        "make vacuous; no lorem-ipsum, no curly brace) run "
        "by the REAL operator over a deterministically-augmented "
        "multi-line page (the governance-PII pattern — raw synthetic "
        "docs are single-line and punctuation-free, which would make "
        "the rules vacuous), with the retained-text md5 in the hash. "
        "The token-derived stats come from ONE explode + hash "
        "aggregate keyed on doc_id (project collapse would otherwise "
        "re-evaluate split(text) for every one of the ~10 expressions that "
        "consume the token array — round-2 profiling showed the exploded "
        "form 2x faster); the regex/normalization columns stay map-side and "
        "join back on the co-partitioned doc_id. A stopword→lang literal "
        "map tags each token in one lookup instead of 4 list scans. Round 1 "
        "shipped these as four queries (text_stats, lang_id_heuristic, "
        "text_regex_token_count, normalize_text); merged so the full "
        "surface fits the driver's correctness window."
    ),
)
def text_profile(spark, sf_dir):
    from kafka_connect_ftp_spark.operators.c4_filter import c4_flags
    from kafka_connect_ftp_spark.operators.lang_id import (
        classify_lang,
        classify_lang_routed,
    )

    # the deepest plan in the registry — two staged classifier chains
    # with 15 literal gram→rank maps make eager re-analysis cost ~1.9s
    # of driver time per construction. The registry memo reuses it from
    # the second build in a process on: the first trains the profiles,
    # which runs Spark jobs.
    df = _docs_balanced(spark, sf_dir)
    # ONE map-side projection CHAIN, zero joins (round-9 rework: every
    # branch — script dispatch + routed CT, trained CT, C4 flags, token
    # stats — is a pure projection, so they compose via keep_cols
    # passthrough instead of four doc_id shuffle joins; the old
    # exploded token-stat aggregate is replaced by staged array ops on
    # the row, the same move classify_lang made in round 8):
    # 1. the ROUTED classifier over the probe column (constant above):
    # script dispatch + per-script out-of-place argmin over the full
    # routed seed corpus — yields both ct_script and ct_lang_routed
    # in one map-side stage (round 9b; subsumes the bare
    # classify_script stage this slot held before)
    s1 = (
        classify_lang_routed(
            df.select("doc_id", "text", F.expr(_SCRIPT_PROBE_CASE).alias("_probe")),
            _rt_profiles(spark),
            text_col="_probe",
            top_n=_CT_TOPN,
            keep_cols=("text",),
        )
        .drop("ct_dist")
        .withColumnRenamed("ct_lang", "ct_lang_routed")
    )
    # 2. the TRAINED Cavnar–Trenkle classifier: profiles fitted ONCE
    # PER PROCESS on the literal seed corpus (bounded langs x top_n
    # rows, memoized like the crawl fixture cache — the train-once/
    # classify-many production shape; retraining on every plan build
    # cost ~1.5s of driver time per bench sample), embedded as literal
    # gram→rank maps — map-side
    s2 = classify_lang(
        s1,
        _ct_profiles(spark),
        top_n=_CT_TOPN,
        keep_cols=("ct_script", "ct_lang_routed", "text"),
    ).drop("ct_dist")
    # 3. the REAL c4 operator over the augmented page (constant above).
    # min_sentences=3 EXPLICIT: the operator default is the paper's 5,
    # but the augmented pages retain at most 3 sentences — at 5 the
    # page rule would be vacuously false for every row, and the gate
    # exists to exercise per-row variation (doc_id%4 pages retain 2)
    s3 = c4_flags(
        s2.withColumn("_aug", F.expr(_C4_AUG_SPARK)),
        text_col="_aug",
        min_sentences=3,
        keep_cols=("text", "ct_lang", "ct_script", "ct_lang_routed"),
    )
    # 4. token stats + fingerprints off staged arrays (the _tk alias is
    # multiply-referenced and non-cheap, so CollapseProject keeps the
    # boundary and the split happens once per row)
    bpe = F.expr(f"regexp_extract_all(text, '{_TOKEN_RX}', 0)")
    norm = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "), " +", " ")
    )
    s4 = s3.select(
        "doc_id",
        "ct_lang",
        "ct_script",
        "ct_lang_routed",
        "c4_n_lines",
        "c4_kept_lines",
        "c4_sentences",
        "c4_keep",
        F.md5(F.col("c4_text").cast("binary")).alias("c4_fp"),
        F.length("text").cast("long").alias("n_chars_calc"),
        F.size(bpe).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(bpe)).cast("long").alias("n_distinct_bpe_tokens"),
        F.md5(norm.cast("binary")).alias("norm_fp"),
        F.expr(_TOKS).alias("_tk"),
    ).select(
        "*",
        F.size("_tk").alias("n_tok"),
        F.size(F.array_distinct("_tk")).alias("n_dist"),
        F.expr("aggregate(_tk, 0L, (a, x) -> a + length(x))").alias("tok_chars"),
        *[
            F.expr(
                "size(filter(_tk, x -> x IN ({})))".format(
                    ", ".join(f"'{w}'" for w in ws)
                )
            ).alias(f"{lang}_ct")
            for lang, ws in _STOPWORDS.items()
        ],
    )
    hits = {lang: F.col(f"{lang}_ct") for lang in _STOPWORDS}
    all_zero = (hits["en"] == 0) & (hits["de"] == 0) & (hits["es"] == 0) & (hits["fr"] == 0)
    pred = (
        F.when(all_zero, "und")
        .when((hits["en"] >= hits["de"]) & (hits["en"] >= hits["es"]) & (hits["en"] >= hits["fr"]), "en")
        .when((hits["de"] >= hits["es"]) & (hits["de"] >= hits["fr"]), "de")
        .when(hits["es"] >= hits["fr"], "es")
        .otherwise("fr")
    )
    # a token-less document still profiles (n_tokens=0; the ratio
    # columns go NULL exactly as the pre-rework left-join form did)
    n_tok = F.col("n_tok")
    tok_chars = F.when(n_tok == 0, F.lit(None)).otherwise(F.col("tok_chars"))
    ratio = F.col("n_dist").cast("double") / n_tok
    out = (
        s4
        .select(
            "doc_id",
            "n_chars_calc",
            n_tok.cast("long").alias("n_tokens"),
            F.coalesce(F.col("n_dist"), F.lit(0)).cast("long").alias("n_distinct_tokens"),
            F.round(ratio, 4).alias("distinct_ratio"),
            F.round(tok_chars.cast("double") / n_tok, 4).alias("avg_token_len"),
            F.round(ratio * (F.least(n_tok, F.lit(64)) / F.lit(64.0)), 4).alias("quality_score"),
            *[hits[lang].cast("long").alias(f"{lang}_hits") for lang in _STOPWORDS],
            pred.alias("pred_lang"),
            "ct_lang",
            "ct_script",
            "ct_lang_routed",
            "n_bpe_tokens",
            "n_distinct_bpe_tokens",
            "norm_fp",
            "c4_n_lines",
            "c4_kept_lines",
            "c4_sentences",
            "c4_keep",
            "c4_fp",
        )
        # materialization boundary before the global sort (round 12,
        # the governance_profile precedent): the range sort's SAMPLING
        # pass re-executes its child plan, and everything above the
        # balanced() repartition — the whole tokenize/stopword/CT/BPE/C4
        # chain — is narrow, so sampling re-ran it end to end (measured
        # 1.62s -> 0.93s with the boundary at sf0.1). With it, the chain
        # runs once and sampling reads the materialized shuffle files;
        # the same trade holds at 100 TB, where re-running the CPU-bound
        # profile chain over every row costs far more than one exchange
        # of the profile-grain output.
        .repartition("doc_id")
        .orderBy("doc_id")
    )
    return out


# doc_fingerprint (md5/sha256/rolling-hash) moved into the merged
# governance_profile query (plans/governance.py) to hold the driver's
# 50-query window while adding splits/mixing/PII/LM-fluency coverage.


@register(
    "dedup_exact",
    f"""
    SELECT method, keeper, n_docs FROM (
      SELECT 'exact' AS method, MIN(doc_id) AS keeper, COUNT(*) AS n_docs
      FROM documents GROUP BY md5(text)
      UNION ALL
      SELECT 'token_bag', MIN(doc_id), COUNT(*)
      FROM (SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct({_DUCK_TOKS})), ' ')) AS bag_fp
            FROM documents)
      GROUP BY bag_fp
    ) ORDER BY method, keeper
    """,
    doc=(
        "Exact + near-exact dedup, one row per surviving group: 'exact' "
        "groups on the md5 of the raw text, 'token_bag' on the md5 of the "
        "sorted distinct-token bag (order/repetition-insensitive). Both "
        "group on a 128-bit hash — the text itself never shuffles, which "
        "is what makes this safe at 100 TB."
    ),
)
def dedup_exact(spark, sf_dir):
    df = _docs(spark, sf_dir)
    exact = (
        df.groupBy(F.md5(F.col("text").cast("binary")).alias("fp"))
        .agg(F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n_docs"))
        .select(F.lit("exact").alias("method"), "keeper", "n_docs")
    )
    bag = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(F.expr(_TOKS)))).cast("binary"))
    token_bag = (
        df.groupBy(bag.alias("bag_fp"))
        .agg(F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n_docs"))
        .select(F.lit("token_bag").alias("method"), "keeper", "n_docs")
    )
    return exact.unionByName(token_bag).orderBy("method", "keeper")


# ----------------------------------------------------------- minhash / LSH

_N_SEEDS = 8
_BAND_SIZE = 2  # 4 bands of 2 rows
_SHINGLE_WORDS = 3  # word-gram width (Broder-style w-shingling)


# DuckDB's generate_series can't take lateral column args, so the oracle
# uses a static series + WHERE (4096 > max token count at any SF here).
# Shingles are word 3-grams over the shared whitespace tokenization
# (_TOKS/_DUCK_TOKS — same split ngram_jaccard uses): ~6x fewer hash
# inputs than char 8-grams on this corpus for the same near-dup recall,
# which matters because md5 on the shingle stream dominates the runtime.
# Documents shorter than 3 tokens contribute their (truncated) full text
# as the single shingle — slice() truncates identically in both engines.
# The 8 minhash functions are the four 8-hex-char slices of two seeded md5
# digests — 2 md5 calls per shingle instead of 8, same independence.
# The CTE block is shared with dedup_cluster_decision's recursive oracle.
_MINHASH_CTES = f"""mh_toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents
    ),
    shingles AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(tk, CAST(i AS INTEGER),
                                        CAST(i AS INTEGER) + {_SHINGLE_WORDS - 1}), ' ') AS sh
      FROM mh_toks, generate_series(1, 4096) AS t(i)
      WHERE i <= GREATEST(LEN(tk) - {_SHINGLE_WORDS - 1}, 1)
    ),
    h AS (
      SELECT doc_id, md5('a:' || sh) AS h1, md5('b:' || sh) AS h2 FROM shingles
    ),
    sig AS (
      SELECT doc_id,
             {", ".join(f"MIN(substring(h1, {8 * i + 1}, 8)) AS m{i}" for i in range(4))},
             {", ".join(f"MIN(substring(h2, {8 * i + 1}, 8)) AS m{i + 4}" for i in range(4))}
      FROM h GROUP BY doc_id
    ),
    bands AS (
      {" UNION ALL ".join(
          f"SELECT doc_id, {b} AS band, md5(m{2 * b} || ',' || m{2 * b + 1}) AS bsig FROM sig"
          for b in range(_N_SEEDS // _BAND_SIZE)
      )}
    ),
    lsh_pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
    )"""

_MINHASH_ORACLE = f"""
    WITH {_MINHASH_CTES}
    SELECT doc_a, doc_b FROM lsh_pairs ORDER BY doc_a, doc_b
    """


@register(
    "minhash_lsh_pairs",
    _MINHASH_ORACLE,
    doc=(
        "MinHash+LSH near-dup candidates: word-3-gram shingles → 8 minhashes "
        "→ 4 bands of 2 → bucket self-join. Linear-ish in corpus size; the "
        "O(n²) comparison only happens inside identical-signature buckets."
    ),
)
def minhash_lsh_pairs(spark, sf_dir):
    # Signatures are computed entirely map-side with higher-order array
    # functions (no explode, no per-shingle shuffle): per document,
    # m_i = array_min(transform(shingles, s -> md5(i || ':' || s))).
    # Only the 4-band signature rows (one per doc) ever shuffle — at
    # 100 TB that is the difference between shuffling terabytes of
    # shingles and megabytes of sketches.
    # spread the (cpu-bound) signature computation across all cores —
    # the source is a single small parquet file, i.e. one input split
    df = _docs_balanced(spark, sf_dir)
    # explode + hash-agg rather than higher-order array lambdas: the md5 and
    # substring expressions stay inside whole-stage codegen, and the min()
    # partial-aggregates map-side, so the shuffle carries one 8-string
    # signature row per document, not the shingles. No array_distinct:
    # min() is insensitive to duplicate shingles, so deduping before the
    # hash would cost a per-array hash set for nothing.
    toks = df.select("doc_id", F.expr(_TOKS).alias("tk"))
    sh = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(size(tk) - {_SHINGLE_WORDS - 1}, 1)),"
                f" i -> concat_ws(' ', slice(tk, i, {_SHINGLE_WORDS})))"
            )
        ).alias("sh"),
    ).select(
        "doc_id",
        F.md5(F.concat(F.lit("a:"), F.col("sh"))).alias("h1"),
        F.md5(F.concat(F.lit("b:"), F.col("sh"))).alias("h2"),
    )
    sig = sh.groupBy("doc_id").agg(
        *[F.min(F.substring("h1", 8 * i + 1, 8)).alias(f"m{i}") for i in range(4)],
        *[F.min(F.substring("h2", 8 * i + 1, 8)).alias(f"m{i + 4}") for i in range(4)],
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat(F.col(f"m{2 * b}"), F.lit(","), F.col(f"m{2 * b + 1}"))).alias("bsig"),
        )
        for b in range(_N_SEEDS // _BAND_SIZE)
    ]
    bands = sig.select("doc_id", F.explode(F.array(*band_structs)).alias("bs")).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.bsig").alias("bsig")
    )
    # bucket-local pair generation instead of a self-join: pairs are
    # expanded inside each (band, bsig) bucket and never shuffle. Buckets
    # above the cap (mass-duplicated boilerplate sharing one band
    # signature) are tile-decomposed so no single task ever expands more
    # than ~cap² pairs — exact, see operators/text_dedup.tiled_bucket_pairs,
    # which lazily localCheckpoints the band rows so its bucket-size
    # pre-aggregation does not re-run the minhash lineage a second time
    from kafka_connect_ftp_spark.operators.text_dedup import tiled_bucket_pairs

    return tiled_bucket_pairs(bands, ["band", "bsig"], bucket_cap=4096).orderBy(
        "doc_a", "doc_b"
    )


_MAX_SHINGLE_DF = 100  # stop-shingle cap: drop shingles present in >100 docs


@register(
    "ngram_jaccard_pairs",
    f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents
    ),
    shingles AS (
      SELECT DISTINCT doc_id,
             tk[CAST(i AS INTEGER)] || ' ' || tk[CAST(i AS INTEGER) + 1] || ' ' ||
             tk[CAST(i AS INTEGER) + 2] AS sh
      FROM toks, generate_series(1, 512) AS t(i)
      WHERE LEN(tk) >= 3 AND i <= LEN(tk) - 2
    ),
    kept AS (
      SELECT doc_id, sh FROM (
        SELECT doc_id, sh, COUNT(*) OVER (PARTITION BY sh) AS df_ct FROM shingles
      ) WHERE df_ct <= {_MAX_SHINGLE_DF}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.2
    ORDER BY doc_a, doc_b
    """,
    doc=(
        "Word-3-gram Jaccard similarity on shingle-sharing pairs, with "
        "stop-shingle removal (doc-frequency cap) so no shingle key fans out "
        "quadratically at scale."
    ),
)
def ngram_jaccard_pairs(spark, sf_dir):
    # Two shuffles total: (1) group shingles into df-capped posting lists,
    # (2) ONE explode emits, per posting list, both the bucket-local pairs
    # (x, y) AND a singleton (x, x) per member, so a single hash aggregate
    # on (a, b) yields the pair intersections (a < b rows) and the post-cap
    # per-doc shingle counts (a = b rows) from the same pass — round 1
    # computed sizes with a separate explode+groupBy over a cached postings
    # frame (3 consumers); the combined emission profiled 3x faster and
    # drops the cache.
    df = (
        _docs_balanced(spark, sf_dir)
        .withColumn("tk", F.expr(_TOKS))
        .filter(F.size("tk") >= 3)
    )
    shingles = df.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, greatest(size(tk) - 2, 1)),"
                    " i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1), element_at(tk, i + 2)))"
                )
            )
        ).alias("sh"),
    )
    postings = (
        shingles.groupBy("sh")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") <= _MAX_SHINGLE_DF)
    )
    counts = (
        postings.select(
            F.explode(
                F.expr(
                    "concat("
                    " transform(ids, x -> struct(x AS a, x AS b)),"
                    " flatten(transform(ids, (x, i) ->"
                    "   transform(slice(ids, i + 2, size(ids) - i - 1), y -> struct(x AS a, y AS b)))))"
                )
            ).alias("p")
        )
        .groupBy("p.a", "p.b")
        .agg(F.count(F.lit(1)).alias("ct"))
        # three consumers below (sizes twice for broadcast, pairs once):
        # materialize ONCE per invocation. localCheckpoint, NOT cache()
        # (round 12): CacheManager matches plan-identical frames ACROSS
        # invocations (sameResult canonicalization), so a .cache() here
        # silently served sample 1's materialized counts to every later
        # bench sample — cross-invocation result reuse the round's
        # no-caching rule forbids. A lazy localCheckpoint gives the same
        # one-pass intra-invocation reuse with a fresh RDD per
        # invocation; each new BUILD recomputes from the parquet scan
        # (repeated actions on one returned frame reuse its checkpointed
        # MEMORY_AND_DISK blocks until the ContextCleaner GCs the RDD —
        # the dedup_cluster.py/bpe.py reclamation note).
        .localCheckpoint(eager=False)
    )
    sizes = counts.filter(F.col("a") == F.col("b")).select(
        F.col("a").alias("doc_id"), F.col("ct").alias("n_sh")
    )
    pairs = counts.filter(F.col("a") < F.col("b")).select(
        F.col("a").alias("doc_a"), F.col("b").alias("doc_b"), F.col("ct").alias("n_inter")
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    jac = F.col("n_inter").cast("double") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    return (
        pairs.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(jac >= 0.2)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


_SIMHASH_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, UNNEST({_DUCK_TOKS}) AS tk FROM documents
    ),
    bits AS (
      SELECT doc_id, k, b,
             SUM(CASE WHEN ((STRPOS('0123456789abcdef', substring(md5(tk), CAST(k AS INTEGER), 1)) - 1)
                            >> CAST(b AS INTEGER)) & 1 = 1
                      THEN 1 ELSE -1 END) AS s
      FROM tok, generate_series(1, 8) AS ks(k), generate_series(0, 3) AS bs(b)
      GROUP BY doc_id, k, b
    ),
    sim AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN s >= 0
                      THEN (1::BIGINT << CAST((8 - k) * 4 + b AS INTEGER)) ELSE 0 END) AS BIGINT)
               AS simhash
      FROM bits GROUP BY doc_id
    ),
    -- winnowing section (round 12, operators/winnow.py absorbed into
    -- this fingerprint-family entry per the REGISTRY_WINDOW policy):
    -- exact int64 polynomial 8-gram hashes, window-of-4 minima
    cp AS (
      SELECT doc_id,
             CASE WHEN length(COALESCE(text, '')) = 0
                  THEN CAST([] AS BIGINT[])
                  ELSE list_transform(string_split(COALESCE(text, ''), ''),
                                      c -> CAST(unicode(c) % 1024 AS BIGINT))
             END AS cps
      FROM documents
    ),
    gr AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(cps) - 7),
                            i -> cps[i+0] * 1 + cps[i+1] * 131 + cps[i+2] * 17161 + cps[i+3] * 2248091 + cps[i+4] * 294499921 + cps[i+5] * 38579489651 + cps[i+6] * 5053913144281 + cps[i+7] * 662062621900811) AS gh
      FROM cp
    ),
    wm AS (
      SELECT doc_id, gh,
             list_distinct(
               list_transform(generate_series(1, len(gh) - 3),
                              i -> least(gh[i+0], gh[i+1], gh[i+2], gh[i+3]))) AS fps
      FROM gr
    )
    SELECT wm.doc_id,
           COALESCE(sim.simhash, 0) AS simhash,
           CAST(len(gh) AS BIGINT) AS n_grams,
           CAST(len(fps) AS BIGINT) AS n_fps,
           CAST(CASE WHEN len(fps) = 0 THEN 0
                     ELSE list_reduce(fps, (a, b) -> xor(a, b)) END AS BIGINT)
             AS fp_xor,
           CAST(COALESCE(list_min(fps), -1) AS BIGINT) AS fp_min,
           CAST(COALESCE(list_max(fps), -1) AS BIGINT) AS fp_max
    FROM wm LEFT JOIN sim USING (doc_id) ORDER BY wm.doc_id
    """


@register(
    "simhash_fingerprint",
    _SIMHASH_ORACLE,
    doc=(
        "Fingerprint family (merged per the REGISTRY_WINDOW policy: "
        "absorbed winnow_fingerprint round 12). (a) 32-bit SimHash per "
        "document from token md5s (frequency-weighted, tie s=0 → bit "
        "1); near-dup candidates = small hamming distance. One explode "
        "per token and ONE shuffle keyed on doc_id: the md5 prefix is "
        "decoded to a 32-bit int ONCE per token (conv base 16), then "
        "the 32 bit counters are shift-and-mask SUM columns in a "
        "single hash aggregate (map-side partials); sum(±1) >= 0 ≡ "
        "2*ones >= n_tokens (round-2 profiled 2x over substring "
        "evaluation, 32x over row fan-out). (b) Winnowing sketch "
        "(Schleimer/Wilkerson/Aiken SIGMOD 2003, MOSS): exact-int64 "
        "polynomial 8-gram rolling hashes, window-of-4 minima, "
        "distinct value set — any shared substring >= 11 chars yields "
        "a shared fingerprint; pure array-HOF projection, zero extra "
        "shuffles (operators/winnow.py; the balanced() doc_id "
        "repartition makes the family join exchange-free). No engine "
        "hash functions in the winnow definition, so the DuckDB twin "
        "is bit-identical from the same literals."
    ),
)
def simhash_fingerprint(spark, sf_dir):
    from kafka_connect_ftp_spark.operators.winnow import (
        _codepoints,
        fp_summary_cols,
        gram_hashes_col,
        winnow_set,
    )

    df = _docs_balanced(spark, sf_dir)
    # ONE scan, zero joins, zero aggregate shuffles (round 12): both
    # family members are per-row array computations. The previous shape
    # (explode -> 32-counter groupBy -> join back to the winnow branch)
    # scanned documents twice and shuffled once; here the token-hash
    # array is MATERIALIZED as a staged column (_th) and the 32 bit
    # counters are size(filter(...)) scans of it — staging is
    # load-bearing, see operators/winnow.py _staged: Spark does no CSE
    # inside HOF lambdas, so an inlined _th would re-hash every token
    # 32 times.
    th = F.transform(
        F.expr(_TOKS),
        lambda t: F.conv(F.substring(F.md5(t.cast("binary")), 1, 8), 16, 10).cast(
            "long"
        ),
    )
    staged = (
        df.select(
            "doc_id",
            _codepoints(F.coalesce(F.col("text"), F.lit(""))).alias("_cps"),
            th.alias("_th"),
        )
        .select("doc_id", "_th", gram_hashes_col(F.col("_cps")).alias("_gh"))
        .select("doc_id", "_th", "_gh", winnow_set(F.col("_gh")).alias("_fps"))
    )
    n = F.size("_th")
    simhash = None
    for p in range(32):
        ones = F.size(
            F.filter(
                "_th",
                lambda h: F.shiftright(h, p).bitwiseAND(F.lit(1)) == F.lit(1),
            )
        )
        term = F.when(ones * 2 >= n, F.lit(1 << p)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return (
        staged.select(
            "doc_id",
            # token-less docs carried no row through the old explode ->
            # the oracle coalesces their simhash to 0; 2*0 >= 0 would
            # otherwise set every bit
            F.when(n == 0, F.lit(0))
            .otherwise(simhash)
            .cast("long")
            .alias("simhash"),
            # the winnow summary contract lives in fp_summary_cols (one
            # definition shared with winnow_profile)
            *fp_summary_cols(F.col("_gh"), F.col("_fps")),
        )
        # materialized boundary before the global sort: the range
        # sampler otherwise re-executes the whole hash chain
        # (docs/SCALING.md, the governance_profile precedent)
        .repartition(F.col("doc_id"))
        .orderBy("doc_id")
    )




# vocabulary size for the coverage diagnostic: the synthetic corpus
# has only 31 distinct tokens, so top-16 leaves a real OOV tail in
# every document at every SF (V=50 covered everything — vacuous)
_VOCAB_V = 16

# hybrid-retrieval gate knobs (round 9b, operators/bm25.py): a fixed
# lexical query over the corpus vocabulary + query-by-example on the
# lowest vec_id's embedding; top-10 shortlists fused with RRF k=60
_BM25_TERMS = ("join", "filter", "window", "scan")
_RETR_TOP = 10
_RRF_K = 60
_BM25_K1, _BM25_B = 1.2, 0.75

# concat-and-chunk packing gate knob (operators/packing.py
# pack_concat_chunks): small enough that synthetic docs straddle
# window boundaries, so the straddle arithmetic is actually exercised
_PACK_BUDGET = 64


def _bm25_ctes() -> str:
    """The hybrid-retrieval oracle twin (operators/bm25.py re-derived:
    Okapi BM25 with the Lucene idf, query-by-example cosine, top-K
    shortlist ranks, RRF over the shortlist union) — generated from the
    SAME knobs the Spark side uses so the two can never drift."""
    nt = len(_BM25_TERMS)
    tfs = ", ".join(
        f"CAST(len(list_filter(toks, w -> w = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    dfs = ", ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}" for i in range(nt)
    )
    terms = " + ".join(
        f"(CASE WHEN tf{i} = 0 THEN 0.0 ELSE"
        f" LN(1 + (n_docs - df{i} + 0.5) / (df{i} + 0.5))"
        f" * tf{i} * {_BM25_K1 + 1} / (tf{i} + {_BM25_K1}"
        f" * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl)) END)"
        for i in range(nt)
    )
    return f"""
    bmtf AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, {tfs}
      FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)
    ),
    bmstat AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl, {dfs} FROM bmtf),
    bm AS (SELECT doc_id, ROUND({terms}, 4) AS bm25 FROM bmtf CROSS JOIN bmstat),
    bmrank AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS bm25_rank
      FROM bm ORDER BY bm25 DESC, doc_id LIMIT {_RETR_TOP}
    ),
    cosq AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings ORDER BY vec_id LIMIT 1),
    cosd AS (
      SELECT vec_id AS doc_id,
             ROUND(list_dot_product(embedding::DOUBLE[], q.qv)
                   / (SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                      * SQRT(list_dot_product(q.qv, q.qv))), 4) AS cos_q
      FROM embeddings CROSS JOIN cosq q
    ),
    cosrank AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY cos_q DESC, doc_id) AS INT) AS cos_rank
      FROM cosd ORDER BY cos_q DESC, doc_id LIMIT {_RETR_TOP}
    ),
    rrfj AS (
      SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id, b.bm25_rank, c.cos_rank,
             ROUND(COALESCE(1.0 / ({_RRF_K} + b.bm25_rank), 0)
                   + COALESCE(1.0 / ({_RRF_K} + c.cos_rank), 0), 6) AS rrf
      FROM bmrank b FULL OUTER JOIN cosrank c ON b.doc_id = c.doc_id
    ),
    pk0 AS (
      SELECT doc_id, t,
             SUM(t) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t
               AS pack_off
      FROM (SELECT doc_id, source,
                   CAST(len({_DUCK_TOKS}) AS BIGINT) AS t FROM documents)
    ),
    pk AS (
      SELECT doc_id, CAST(pack_off AS BIGINT) AS pack_off,
             CAST(pack_off // {_PACK_BUDGET} AS BIGINT) AS pack_seq_first,
             CAST(GREATEST(pack_off // {_PACK_BUDGET},
                           (pack_off + t - 1) // {_PACK_BUDGET}) AS BIGINT)
               AS pack_seq_last
      FROM pk0
    )"""


@register(
    "vocab_coverage",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_DUCK_TOKS}) AS tk FROM documents),
    freq AS (SELECT tk, COUNT(*) AS c FROM tok GROUP BY tk),
    vocab AS (SELECT tk FROM freq ORDER BY c DESC, tk LIMIT {_VOCAB_V}),
    per AS (
      SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
             CAST(SUM(CASE WHEN v.tk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
      FROM tok t LEFT JOIN vocab v ON t.tk = v.tk GROUP BY t.doc_id
    ),
    tf AS (SELECT doc_id, tk, COUNT(*) AS tf FROM tok GROUP BY doc_id, tk),
    idf AS (SELECT tk, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY tk),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tk, tf.tf * LN(CAST(n.n_docs AS DOUBLE) / idf.df) AS tfidf
      FROM tf JOIN idf USING (tk) CROSS JOIN n
    ),
    top AS (
      SELECT doc_id, tk AS top_term, ROUND(tfidf, 6) AS tfidf
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                         ORDER BY tfidf DESC, tk) AS rn
            FROM scored)
      WHERE rn = 1
    ),
    -- DSIR (operators/dsir.py): hashed unigram+bigram buckets, add-a
    -- smoothed target/raw log ratio, per-doc importance log-weight,
    -- Gumbel-top-{_DSIR_K} resampling on the deterministic hash uniform
    dsd AS (SELECT doc_id, source, {_DUCK_TOKS} AS toks FROM documents),
    dsgram AS (
      SELECT doc_id, source, unnest(toks) AS g FROM dsd
      UNION ALL
      SELECT doc_id, source, toks[i] || ' ' || toks[i + 1]
      FROM dsd, generate_series(1, {ORACLE_MAX_TOKENS}) AS t(i)
      WHERE i < len(toks)
    ),
    dsb AS (
      SELECT doc_id, source,
             ('0x' || substr(md5(g), 1, 13))::BIGINT % {_DSIR_B} AS bucket
      FROM dsgram
    ),
    dsct AS (SELECT bucket, COUNT(*) AS c FROM dsb
             WHERE source IN ('src0','src1','src2','src3','src4') GROUP BY bucket),
    dscr AS (SELECT bucket, COUNT(*) AS c FROM dsb GROUP BY bucket),
    dstot AS (
      SELECT (SELECT COALESCE(SUM(c), 0) FROM dsct) AS nt,
             (SELECT COALESCE(SUM(c), 0) FROM dscr) AS nr
    ),
    dsratio AS (
      SELECT CAST(r.range AS BIGINT) AS bucket,
             LN((COALESCE(ct.c, 0) + {_DSIR_A!r}) / (t.nt + {_DSIR_A!r} * {_DSIR_B}))
           - LN((COALESCE(cr.c, 0) + {_DSIR_A!r}) / (t.nr + {_DSIR_A!r} * {_DSIR_B})) AS lr
      FROM range({_DSIR_B}) r
      LEFT JOIN dsct ct ON ct.bucket = r.range
      LEFT JOIN dscr cr ON cr.bucket = r.range
      CROSS JOIN dstot t
    ),
    dsw AS (
      SELECT b.doc_id, SUM(r.lr) AS logw
      FROM dsb b JOIN dsratio r USING (bucket) GROUP BY b.doc_id
    ),
    dskey AS (
      SELECT d.doc_id, COALESCE(w.logw, 0.0) AS logw,
             COALESCE(w.logw, 0.0)
               - LN(-LN((('0x' || substr(md5('v1:' || CAST(d.doc_id AS VARCHAR)), 1, 13))::BIGINT
                          / {_DENOM!r}) + {_ULP!r})) AS gk
      FROM documents d LEFT JOIN dsw w USING (doc_id)
    ),
    dstop AS (SELECT doc_id FROM dskey ORDER BY gk DESC, doc_id LIMIT {_DSIR_K}),
    {_bm25_ctes()}
    SELECT d.doc_id,
           COALESCE(per.n_tok, 0) AS n_tokens,
           COALESCE(per.n_oov, 0) AS n_oov,
           ROUND(CASE WHEN per.n_tok IS NULL THEN 0.0
                      ELSE CAST(per.n_oov AS DOUBLE) / per.n_tok END, 6) AS oov_rate,
           top.top_term, top.tfidf,
           ROUND(dskey.logw, 4) AS dsir_logw,
           (dstop.doc_id IS NOT NULL) AS dsir_keep,
           bm.bm25, cosd.cos_q, rrfj.bm25_rank, rrfj.cos_rank, rrfj.rrf,
           pk.pack_off, pk.pack_seq_first, pk.pack_seq_last
    FROM documents d
    LEFT JOIN per ON per.doc_id = d.doc_id
    LEFT JOIN top ON top.doc_id = d.doc_id
    LEFT JOIN dskey ON dskey.doc_id = d.doc_id
    LEFT JOIN dstop ON dstop.doc_id = d.doc_id
    LEFT JOIN bm ON bm.doc_id = d.doc_id
    LEFT JOIN cosd ON cosd.doc_id = d.doc_id
    LEFT JOIN rrfj ON rrfj.doc_id = d.doc_id
    LEFT JOIN pk ON pk.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
    doc=(
        f"Tokenizer-vocabulary coverage diagnostic: the top-{_VOCAB_V} "
        "corpus tokens by frequency (count-desc, token-asc tie-break — "
        "deterministic in both engines) play the vocabulary; each "
        "document reports its token count, out-of-vocabulary count and "
        "OOV rate — the check a pipeline runs before committing a "
        "tokenizer (high OOV = the vocab was trained on the wrong "
        "distribution) — plus its highest-TF-IDF term (term/document "
        "frequencies as two hash aggregations, idf broadcast back on "
        "term; rounds 1-5's standalone tfidf_top_term merged in round 6: "
        "same scan, same tokenization, one registry row), plus the DSIR "
        "data-selection columns absorbed in round 7 (operators/dsir.py, "
        "Xie et al. 2023): hashed unigram+bigram importance log-weight "
        "against the src0-4 target slice and the deterministic "
        "Gumbel-top-100 resampling decision, both re-derived bucket-"
        "exactly by the oracle via the md5-prefix hash, plus the round-"
        "9b HYBRID RETRIEVAL family (operators/bm25.py): Okapi BM25 of "
        "a fixed lexical query (Lucene idf; corpus stats = one query-"
        "bounded aggregate broadcast back as a one-row frame, scoring "
        "map-side), query-by-example cosine to the lowest-vec_id "
        "embedding (the cosine-gate conventions), and RRF k=60 fusion "
        "of the two top-10 shortlists — ranks/rrf NULL outside the "
        "shortlist union, exactly like production fusion output — and "
        "the concat-and-chunk packing assignment (operators/packing.py "
        "pack_concat_chunks: per-source token streams cut into 64-token "
        "windows, one cumulative-sum window per stream; pack_off / "
        "pack_seq_first / pack_seq_last incl. boundary straddles). "
        "Implementation "
        "is operators/vocab.py with caller-parameterized V. Plan: the "
        "vocab pass is a token-keyed aggregate whose size is bounded by "
        "the VOCABULARY (not the corpus, the lm_score pattern) + "
        "TakeOrdered top-V; the coverage pass re-streams tokens map-side "
        "against the BROADCAST vocab and aggregates per doc_id. No "
        "shuffle ever carries raw text, and every wide exchange is "
        "bounded by distinct tokens or (doc_id, token) pairs."
    ),
)
def vocab_coverage(spark, sf_dir):
    from kafka_connect_ftp_spark.operators.dsir import (
        dsir_logratio,
        dsir_scores,
        dsir_select,
    )
    from kafka_connect_ftp_spark.operators.vocab import (
        term_frequencies,
        tfidf_top_term,
        vocab_coverage as coverage,
        vocab_top_v,
    )

    df = _docs_balanced(spark, sf_dir)
    tok = df.select("doc_id", F.explode(F.expr(_TOKS)).alias("tk"))
    # ONE corpus pass: every section below consumes the (doc, token, tf)
    # reduction, MATERIALIZED (lazy localCheckpoint — computed on first
    # use, reused by the other consumers) per operators/vocab.py's
    # fan-out contract: exchange reuse across consumers is NOT
    # guaranteed (observed absent under AQE), and an unmaterialized tf
    # re-executes the corpus scan per section
    tf = term_frequencies(tok).localCheckpoint(eager=False)
    cov = coverage(df, tf, vocab_top_v(tf, _VOCAB_V))
    top = tfidf_top_term(df, tf).select(
        "doc_id", "top_term", F.round("tfidf", 6).alias("tfidf")
    )
    # DSIR columns (operators/dsir.py): target = the src0-4 trusted
    # slice, raw = the whole corpus; importance log-weight + the
    # Gumbel-top-K resampling decision, both under the hash gate
    target = df.filter(F.col("source").isin(*[f"src{i}" for i in range(5)]))
    # lazy-checkpoint the B-row ratio table: dsir_scores' bucket-space
    # contract check counts it, and the scoring join broadcasts it —
    # without materialization the two corpus-count aggregations run twice.
    # (Round 13 re-measured the r12-deferred "build cut" tail: warm
    # build is 2.0-2.15 s — ~0.4 s per lazy checkpoint's physical
    # planning plus ~1.2 s of composite plan construction. Planning the
    # two independent checkpoints on two driver threads measured at
    # PARITY (2.25 s) — the JVM side does not overlap them — and was
    # reverted; dropping the checkpoints would make the query
    # memo-eligible but re-executes the corpus aggregations per
    # consumer, which r12 measured as strictly worse.)
    table = dsir_logratio(
        target, df, n_buckets=_DSIR_B, alpha=_DSIR_A
    ).localCheckpoint(eager=False)
    dsir = dsir_select(
        dsir_scores(df, table, n_buckets=_DSIR_B), _DSIR_K
    ).select(
        "doc_id", F.round("dsir_logw", 4).alias("dsir_logw"), "dsir_keep"
    )
    # hybrid retrieval (round 9b, operators/bm25.py): BM25 of the fixed
    # lexical query (the row's whitespace tokenization), cosine to the
    # lowest-vec_id embedding (query-by-example, the cosine-gate
    # conventions: double cast, rank on the ROUNDED score), top-10
    # shortlists fused with RRF — ranks and rrf are NULL outside the
    # shortlist union, exactly like production fusion output
    from kafka_connect_ftp_spark.operators.ann import cos_expr
    from kafka_connect_ftp_spark.operators.bm25 import bm25_scores, rrf_fuse

    # both scored frames feed TWO consumers (the per-doc column join +
    # rrf_fuse's shortlist). Round 12: they are NO LONGER
    # localCheckpoint-ed — each lazy localCheckpoint pays full physical
    # planning of its subtree at BUILD time (df.rdd conversion, ~0.8 s
    # each here; cProfile showed the four checkpoints were 3.2 s of the
    # 5.9 s build), while recomputing these two cheap one-aggregation
    # branches once more per execution costs ~0.3 s. The heavyweight
    # tf/table intermediates (3 consumers / two corpus aggregations)
    # keep their checkpoints — there the recompute dwarfs the planning.
    bm = bm25_scores(
        df, _BM25_TERMS, tokens_expr=_TOKS, k1=_BM25_K1, b=_BM25_B
    ).select("doc_id", F.round("bm25", 4).alias("bm25"))
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"].select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    qv = emb.orderBy("vec_id").limit(1).select(F.col("v").alias("qv"))
    cos = emb.crossJoin(F.broadcast(qv)).select(
        F.col("vec_id").alias("doc_id"),
        F.round(cos_expr("v", "qv"), 4).alias("cos_q"),
    )
    fused = rrf_fuse(
        [
            ("bm25", bm.withColumnRenamed("bm25", "score")),
            ("cos", cos.withColumnRenamed("cos_q", "score")),
        ],
        k=_RRF_K,
        top=_RETR_TOP,
    ).select(
        "doc_id", "bm25_rank", "cos_rank", F.round("rrf", 6).alias("rrf")
    )
    # concat-and-chunk packing assignment (operators/packing.py, round
    # 9b): per-SOURCE token streams cut into _PACK_BUDGET windows — one
    # cumulative-sum window per stream, closed-form integer arithmetic
    from kafka_connect_ftp_spark.operators.packing import pack_concat_chunks

    pk = pack_concat_chunks(
        df.select(
            "doc_id", "source", F.size(F.expr(_TOKS)).cast("long").alias("n_tokens")
        ),
        budget=_PACK_BUDGET,
    ).select("doc_id", "pack_off", "pack_seq_first", "pack_seq_last")
    return (
        cov.join(top, "doc_id", "left")
        .join(dsir, "doc_id", "left")
        .join(bm, "doc_id", "left")
        .join(cos, "doc_id", "left")
        .join(fused, "doc_id", "left")
        .join(pk, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round("oov_rate", 6).alias("oov_rate"),
            "top_term",
            "tfidf",
            "dsir_logw",
            "dsir_keep",
            "bm25",
            "cos_q",
            "bm25_rank",
            "cos_rank",
            "rrf",
            "pack_off",
            "pack_seq_first",
            "pack_seq_last",
        )
        # materialization boundary before the global sort (the round-12
        # scalar_funcs/text_profile/governance precedent): the range
        # sort's sampling pass would otherwise re-execute the whole
        # 6-join gate chain a second time; with the doc_id repartition
        # the chain runs once and sampling reads the shuffle files.
        .repartition("doc_id")
        .orderBy("doc_id")
    )

