"""Training-data pipeline operators: fixed-size chunking with overlap,
benchmark decontamination, rule-based quality filtering, and the full
Gopher repetition-signal profile — the standard pre-training corpus
steps (C4/Gopher-style), all as oracle-checked plans.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_connect_ftp_spark.operators.bloom import bloom_prefilter_join
from kafka_connect_ftp_spark.operators.repetition import repetition_signals
from kafka_connect_ftp_spark.plans import ORACLE_MAX_TOKENS as _ORACLE_MAX_TOKENS
from kafka_connect_ftp_spark.plans import register
from kafka_connect_ftp_spark.session import load_tables

_TOKS = "filter(split(text, ' '), x -> x <> '')"
_DUCK_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"

_CHUNK = 32  # tokens per chunk
_STRIDE = 24  # tokens between chunk starts (8-token overlap)


@register(
    "chunk_documents",
    f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents),
    starts AS (
      SELECT doc_id, tk, CAST(i AS BIGINT) AS start
      FROM toks, generate_series(1, {_ORACLE_MAX_TOKENS}) AS t(i)
      WHERE (i - 1) % {_STRIDE} = 0 AND i <= LEN(tk)
    )
    SELECT doc_id, CAST((start - 1) / {_STRIDE} AS BIGINT) AS chunk_no,
           array_to_string(tk[CAST(start AS INTEGER):CAST(LEAST(start + {_CHUNK} - 1, LEN(tk)) AS INTEGER)], ' ')
             AS chunk_text,
           CAST(LEAST(start + {_CHUNK} - 1, LEN(tk)) - start + 1 AS BIGINT) AS n_tokens
    FROM starts ORDER BY doc_id, chunk_no
    """,
    doc=(
        f"Sliding-window chunking for training: {_CHUNK}-token chunks every "
        f"{_STRIDE} tokens ({_CHUNK - _STRIDE}-token overlap). Map-side "
        "explode — no shuffle at all; the chunker is a pure 1→N projection."
    ),
)
def chunk_documents(spark, sf_dir):
    df = load_tables(spark, sf_dir, "documents")["documents"].withColumn("tk", F.expr(_TOKS))
    starts = df.select(
        "doc_id",
        "tk",
        F.explode(
            # the size(tk) >= 1 guard matters: Spark's sequence(1, 0)
            # auto-steps DOWN to [1, 0], which would fabricate a phantom
            # empty chunk for a zero-token document (the oracle's
            # i <= LEN(tk) emits nothing)
            F.expr(
                f"case when size(tk) >= 1 then"
                f" filter(sequence(1, size(tk)), i -> (i - 1) % {_STRIDE} = 0)"
                f" else array() end"
            )
        ).alias("start"),
    )
    end = F.least(F.col("start") + _CHUNK - 1, F.size("tk"))
    return starts.select(
        "doc_id",
        (((F.col("start") - 1) / _STRIDE).cast("long")).alias("chunk_no"),
        F.array_join(F.expr(f"slice(tk, start, {_CHUNK})"), " ").alias("chunk_text"),
        (end - F.col("start") + 1).cast("long").alias("n_tokens"),
    ).orderBy("doc_id", "chunk_no")


_CONTAM_N = 5  # n-gram width for contamination matching
_BENCH_DOCS = 5  # the first N doc_ids play the "benchmark" set


@register(
    "decontamination_flags",
    f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents),
    grams AS (
      SELECT DISTINCT doc_id,
             array_to_string(tk[CAST(i AS INTEGER):CAST(i AS INTEGER) + {_CONTAM_N - 1}], ' ') AS g
      FROM toks, generate_series(1, {_ORACLE_MAX_TOKENS}) AS t(i)
      WHERE i <= LEN(tk) - {_CONTAM_N - 1}
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < {_BENCH_DOCS}),
    hits AS (
      SELECT g.doc_id, COUNT(*) AS n_hits
      FROM grams g JOIN bench b ON g.g = b.g
      WHERE g.doc_id >= {_BENCH_DOCS}
      GROUP BY g.doc_id
    )
    SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
           COALESCE(h.n_hits, 0) AS n_hits_bloom,
           COALESCE(h.n_hits, 0) > 0 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id >= {_BENCH_DOCS}) d
    LEFT JOIN hits h ON d.doc_id = h.doc_id
    ORDER BY d.doc_id
    """,
    doc=(
        f"Benchmark decontamination: flag corpus documents sharing any "
        f"{_CONTAM_N}-gram with the benchmark set (stand-in: doc_id < "
        f"{_BENCH_DOCS}). n_hits comes from the right plan for a small "
        "reference set — broadcast semi-join, corpus grams map-side. "
        "n_hits_bloom recomputes it through bloom_prefilter_join "
        "(operators/bloom.py): bloom-sketch prune + exact confirm join, "
        "the path for reference sets too big to broadcast (prior-crawl "
        "fingerprints). The oracle derives both columns from ONE exact "
        "join, so the driver's hash compare is a standing proof that the "
        "bloom path is byte-identical to the exact join — bloom errors "
        "are one-sided and the confirm join removes them."
    ),
)
def decontamination_flags(spark, sf_dir):
    df = load_tables(spark, sf_dir, "documents")["documents"].withColumn("tk", F.expr(_TOKS))
    grams = df.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, greatest(size(tk) - {_CONTAM_N - 1}, 1)),"
                    f" i -> array_join(slice(tk, i, {_CONTAM_N}), ' '))"
                )
            )
        ).alias("g"),
    ).filter(F.size("tk") >= _CONTAM_N)
    bench = grams.filter(F.col("doc_id") < _BENCH_DOCS).select("g").distinct()
    corpus = grams.filter(F.col("doc_id") >= _BENCH_DOCS)
    hits = (
        corpus.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    # n_keys is a static upper bound (≤ _ORACLE_MAX_TOKENS positions per doc in the
    # oracle's generate_series, _BENCH_DOCS docs) so plan construction
    # stays lazy — no eager count job; an overestimate only oversizes
    # the sketch, never changes the (exact) result
    hits_bloom = (
        bloom_prefilter_join(
            corpus, bench, "g", fpp=0.01, n_keys=_ORACLE_MAX_TOKENS * _BENCH_DOCS, how="left_semi"
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits_bloom"))
    )
    base = df.select("doc_id").filter(F.col("doc_id") >= _BENCH_DOCS)
    return (
        base.join(hits, "doc_id", "left")
        .join(hits_bloom, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.coalesce(F.col("n_hits_bloom"), F.lit(0)).cast("long").alias("n_hits_bloom"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


# Gopher doc-rule augmentation (operators/gopher_rules.py gate): the
# synthetic docs are single-line punctuation-free word soup, so the
# symbol/bullet/ellipsis signals would be vacuously zero. Both engines
# build the SAME augmented page (the governance-PII pattern); the added
# lines vary keep per row: doc_id%4-only docs get an ellipsis line that
# is 1 of 2 non-blank lines (> 0.3 -> rejected) while %12 docs dilute
# it with bullet lines back under the threshold.
_GOPHER_AUG_SPARK = (
    "concat(text,"
    " CASE WHEN doc_id % 3 = 0 THEN '\\n- the bullet item\\n- another bullet of note' ELSE '' END,"
    " CASE WHEN doc_id % 4 = 0 THEN '\\nthe preview to be cut...' ELSE '' END,"
    " CASE WHEN doc_id % 5 = 0 THEN ' # # #' ELSE '' END,"
    " CASE WHEN doc_id % 6 = 0 THEN ' 111 222 333' ELSE '' END)"
)
_GOPHER_AUG_DUCK = (
    "text"
    " || CASE WHEN doc_id % 3 = 0 THEN chr(10) || '- the bullet item' || chr(10) || '- another bullet of note' ELSE '' END"
    " || CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'the preview to be cut...' ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN ' # # #' ELSE '' END"
    " || CASE WHEN doc_id % 6 = 0 THEN ' 111 222 333' ELSE '' END"
)


# Routed-gate hash coverage (round 10, VERDICT r9 #6): the per-row
# routed keep flags (rule_gate(lang_col=...) with the zh/ja/ar/ko/hi/he
# stopword/line-end/alpha params) enter the driver gate here. Routing
# rides a DETERMINISTIC language column derived from the same doc_id
# branch that picks the script probe (plans/text.py) — the production
# contract is classify -> MATERIALIZE -> gate (rule_gate module doc),
# so the gate row models the post-materialization state; the CLASSIFIER
# itself is hash-gated separately (text_profile's ct_lang_routed). A
# per-row terminal mark (mod-3) makes the routed line-end regex the
# live signal: '。' passes only for zh/ja, '.' everywhere — with
# min_words_per_line=1 so the unsegmented zh/ja/th probes (no spaces)
# reach the terminal-punctuation rule at all, and min_sentences=1 so
# c4_keep varies per row instead of pinning false.
_RT_MARK = "CASE WHEN doc_id % 3 = 0 THEN '。' WHEN doc_id % 3 = 1 THEN '.' ELSE '' END"
_RT_LANG_CASE = (
    "CASE WHEN doc_id % 11 = 1 THEN 'ru' WHEN doc_id % 11 = 2 THEN 'el'"
    " WHEN doc_id % 11 = 3 THEN 'zh' WHEN doc_id % 11 = 4 THEN 'und'"
    " WHEN doc_id % 11 = 5 THEN 'ar' WHEN doc_id % 11 = 6 THEN 'ko'"
    " WHEN doc_id % 11 = 7 THEN 'hi' WHEN doc_id % 11 = 8 THEN 'ja'"
    " WHEN doc_id % 11 = 9 THEN 'he' WHEN doc_id % 11 = 10 THEN 'thai'"
    " ELSE 'en' END"
)


def _sq(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _rt_gate_ctes() -> str:
    """DuckDB twin of the ROUTED scalar gate over the probe page:
    the lang->params routing (stopword lists, substr-vs-word match,
    line-end and alpha regex CASEs) regenerated from the SAME dicts
    rule_gate routes with, so the two engines cannot drift."""
    from kafka_connect_ftp_spark.operators.c4_filter import (
        C4_LINE_END_BY_LANG,
        C4_LINE_END_RX,
    )
    from kafka_connect_ftp_spark.operators.gopher_rules import (
        GOPHER_ALPHA_RX,
        GOPHER_ALPHA_RX_BY_LANG,
        GOPHER_STOPWORDS,
        GOPHER_STOPWORDS_BY_LANG,
        GOPHER_SUBSTR_STOPWORD_LANGS,
    )
    from kafka_connect_ftp_spark.plans.text import _SCRIPT_PROBE_CASE

    def dlist(ws):
        return "[" + ", ".join(_sq(w) for w in ws) + "]"

    def rx_case(var, rxs, default):
        by_rx: dict[str, list[str]] = {}
        for lg, rx in sorted(rxs.items()):
            by_rx.setdefault(rx, []).append(lg)
        branches = " ".join(
            f"WHEN rt_lang IN ({', '.join(_sq(lg) for lg in lgs)})"
            f" THEN regexp_matches({var}, {_sq(rx)})"
            for rx, lgs in sorted(by_rx.items())
        )
        return f"CASE {branches} ELSE regexp_matches({var}, {_sq(default)}) END"

    stops_case = (
        "CASE rt_lang "
        + " ".join(
            f"WHEN {_sq(lg)} THEN {dlist(ws)}"
            for lg, ws in sorted(GOPHER_STOPWORDS_BY_LANG.items())
        )
        + f" ELSE {dlist(GOPHER_STOPWORDS)} END"
    )
    sub_langs = ", ".join(_sq(lg) for lg in sorted(GOPHER_SUBSTR_STOPWORD_LANGS))
    kept = (
        "list_filter(string_split(pc, chr(10)), ln -> ("
        + rx_case("ln", C4_LINE_END_BY_LANG, C4_LINE_END_RX)
        + ") AND len(list_filter(string_split(ln, ' '), w -> w <> '')) >= 1"
        " AND NOT regexp_matches(lower(ln), 'javascript'))"
    )
    alpha = rx_case("w", GOPHER_ALPHA_RX_BY_LANG, GOPHER_ALPHA_RX)
    paug = f"(({_SCRIPT_PROBE_CASE}) || ({_RT_MARK}))"
    return f"""
    rt0 AS (
      SELECT doc_id, {paug} AS p, COALESCE({paug}, '') AS pc,
             {_RT_LANG_CASE} AS rt_lang
      FROM documents
    ),
    rt1 AS (
      SELECT doc_id, rt_lang, p, pc,
             {stops_case} AS stops,
             list_filter(string_split(replace(pc, chr(10), ' '), ' '), w -> w <> '') AS ws,
             list_filter(string_split(pc, chr(10)), ln -> trim(ln) <> '') AS lns,
             {kept} AS kept,
             len(regexp_extract_all(pc, '#|\\.\\.\\.|…')) AS nsym
      FROM rt0
    ),
    rt2 AS (
      SELECT doc_id, rt_lang, p, pc, kept,
             CASE WHEN rt_lang IN ({sub_langs})
                  THEN len(list_filter(stops, s -> contains(lower(pc), s)))
                  ELSE len(list_filter(stops,
                           s -> list_contains(list_transform(ws, w -> lower(w)), s)))
             END AS nstop,
             CASE WHEN len(ws) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(ws, w -> {alpha})) AS DOUBLE) / len(ws)
             END AS alp,
             CASE WHEN len(ws) = 0 THEN 0.0
                  ELSE CAST(nsym AS DOUBLE) / len(ws) END AS sym,
             CASE WHEN len(lns) = 0 THEN 0.0 ELSE
               CAST(len(list_filter(lns, ln -> regexp_matches(trim(ln), '^[-*•]'))) AS DOUBLE)
                 / len(lns) END AS bul,
             CASE WHEN len(lns) = 0 THEN 0.0 ELSE
               CAST(len(list_filter(lns, ln -> regexp_matches(trim(ln), '(\\.\\.\\.|…)$'))) AS DOUBLE)
                 / len(lns) END AS ell,
             len(ws) AS nw,
             -- array_to_string([]) is NULL in DuckDB, not ''
             len(regexp_extract_all(COALESCE(array_to_string(kept, chr(10)), ''),
                                    '[.!?]')) AS sent
      FROM rt1
    ),
    rt3 AS (
      SELECT doc_id, rt_lang,
             CAST(nstop AS BIGINT) AS rt_stop_hits,
             ROUND(alp, 6) AS rt_alpha_frac,
             CAST(COALESCE(len(kept), 0) AS BIGINT) AS rt_kept_lines,
             CAST(sent AS BIGINT) AS rt_sentences,
             (p IS NOT NULL AND sent >= 1
              AND NOT contains(lower(pc), 'lorem ipsum')
              AND NOT contains(pc, '{{')) AS rt_c4_keep,
             (nw > 0 AND sym <= 0.1 AND bul <= 0.9 AND ell <= 0.3
              AND alp >= 0.8 AND nstop >= 2) AS rt_gopher_keep
      FROM rt2
    )"""


@register(
    "repetition_profile",
    f"""
    WITH t AS (
      SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n_chars, {_DUCK_TOKS} AS tk
      FROM documents
    ),
    g AS (
      SELECT t.doc_id, ns.n,
             array_to_string(tk[CAST(i AS INTEGER):CAST(i AS INTEGER) + ns.n - 1], ' ') AS gram
      FROM t, (VALUES (2), (3), (4), (5), (10)) AS ns(n), generate_series(1, {_ORACLE_MAX_TOKENS}) AS s(i)
      WHERE i <= LEN(tk) - ns.n + 1
    ),
    ct AS (SELECT doc_id, n, gram, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY 1, 2, 3),
    mx AS (SELECT doc_id, n, MAX(c) AS cmax FROM ct GROUP BY 1, 2),
    tm AS (
      SELECT ct.doc_id, ct.n, MAX(ct.c * LENGTH(ct.gram)) AS mass
      FROM ct JOIN mx ON ct.doc_id = mx.doc_id AND ct.n = mx.n AND ct.c = mx.cmax
      GROUP BY 1, 2
    ),
    du AS (
      SELECT doc_id, n, SUM(c) AS occ, CAST(COUNT(*) AS BIGINT) AS dist
      FROM ct GROUP BY 1, 2
    ),
    piv AS (
      SELECT tm.doc_id,
             MAX(CASE WHEN tm.n = 2 THEN tm.mass END) AS tm2,
             MAX(CASE WHEN tm.n = 3 THEN tm.mass END) AS tm3,
             MAX(CASE WHEN tm.n = 4 THEN tm.mass END) AS tm4
      FROM tm GROUP BY 1
    ),
    pivd AS (
      SELECT doc_id,
             MAX(CASE WHEN n = 5 THEN CAST(occ - dist AS DOUBLE) / occ END) AS df5,
             MAX(CASE WHEN n = 10 THEN CAST(occ - dist AS DOUBLE) / occ END) AS df10
      FROM du GROUP BY 1
    ),
    gop AS (
      SELECT doc_id,
             list_filter(string_split(replace(aug, chr(10), ' '), ' '), w -> w <> '') AS ws,
             list_filter(string_split(aug, chr(10)), ln -> trim(ln) <> '') AS lns,
             len(regexp_extract_all(aug, '#|\\.\\.\\.|…')) AS n_sym,
             aug
      FROM (SELECT doc_id, {_GOPHER_AUG_DUCK} AS aug FROM documents)
    ),
    gopf AS (
      SELECT doc_id,
             CASE WHEN len(ws) = 0 THEN 0.0 ELSE CAST(n_sym AS DOUBLE) / len(ws) END AS sym,
             CASE WHEN len(lns) = 0 THEN 0.0 ELSE
               CAST(len(list_filter(lns, ln -> regexp_matches(trim(ln), '^[-*•]'))) AS DOUBLE)
                 / len(lns) END AS bul,
             CASE WHEN len(lns) = 0 THEN 0.0 ELSE
               CAST(len(list_filter(lns, ln -> regexp_matches(trim(ln), '(\\.\\.\\.|…)$'))) AS DOUBLE)
                 / len(lns) END AS ell,
             CASE WHEN len(ws) = 0 THEN 0.0 ELSE
               CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
                 / len(ws) END AS alp,
             CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
                                  s -> list_contains(list_transform(ws, w -> lower(w)), s)))
                  AS BIGINT) AS stop_hits,
             len(ws) AS nw
      FROM gop
    ),
    {_rt_gate_ctes()}
    SELECT t.doc_id,
           CAST(LEN(tk) AS BIGINT) AS n_tokens,
           ROUND(CASE WHEN LEN(tk) = 0 THEN 0.0
                      ELSE CAST(LEN(tk) - LEN(list_distinct(tk)) AS DOUBLE) / LEN(tk)
                 END, 6) AS dup_token_frac,
           ROUND(COALESCE(CAST(tm2 AS DOUBLE) / n_chars, 0.0), 6) AS top_2gram_frac,
           ROUND(COALESCE(CAST(tm3 AS DOUBLE) / n_chars, 0.0), 6) AS top_3gram_frac,
           ROUND(COALESCE(CAST(tm4 AS DOUBLE) / n_chars, 0.0), 6) AS top_4gram_frac,
           ROUND(COALESCE(df5, 0.0), 6) AS dup_5gram_frac,
           ROUND(COALESCE(df10, 0.0), 6) AS dup_10gram_frac,
           ROUND(gopf.sym, 6) AS g_symbol_ratio,
           ROUND(gopf.bul, 6) AS g_bullet_frac,
           ROUND(gopf.ell, 6) AS g_ellipsis_frac,
           ROUND(gopf.alp, 6) AS g_alpha_frac,
           gopf.stop_hits AS g_stop_hits,
           (gopf.nw > 0 AND gopf.sym <= 0.1 AND gopf.bul <= 0.9
            AND gopf.ell <= 0.3 AND gopf.alp >= 0.8
            AND gopf.stop_hits >= 2) AS gopher_keep,
           rt3.rt_lang, rt3.rt_stop_hits, rt3.rt_alpha_frac,
           rt3.rt_kept_lines, rt3.rt_sentences, rt3.rt_c4_keep,
           rt3.rt_gopher_keep
    FROM t LEFT JOIN piv ON piv.doc_id = t.doc_id
    LEFT JOIN pivd ON pivd.doc_id = t.doc_id
    JOIN gopf ON gopf.doc_id = t.doc_id
    JOIN rt3 ON rt3.doc_id = t.doc_id
    ORDER BY t.doc_id
    """,
    doc=(
        "The full Gopher repetition-rule profile (Rae et al. 2021 §A1.1) "
        "per document, from the real operators/repetition.py path: "
        "duplicate-token fraction, the character share of the single most "
        "frequent word {2,3,4}-gram, and the duplicate-occurrence "
        "fraction of {5,10}-grams (the occurrence-fraction variant of "
        "Gopher's duplicated-character metric — SQL-expressible, so the "
        "whole profile sits inside the hash gate; module doc). One "
        "map-side explode for all five widths; the per-(doc, n, gram) "
        "count collapses map-side before its doc_id-keyed shuffle — the "
        "text never leaves the scan stage. Tie-break: count-maximal grams "
        "resolve to the largest character mass, so the reported fraction "
        "is engine-independent. Round 7 adds the remaining Gopher "
        "DOC-level rules (operators/gopher_rules.py): symbol-to-word "
        "ratio, bullet/ellipsis line fractions, alphabetic-word "
        "fraction, required-stopword hits and the composite gopher_keep "
        "— the real operator over a deterministically-augmented "
        "multi-line page (augmentation comment above), value-checked "
        "per row. Round 10 adds the ROUTED rule gate to the hash: "
        "rule_gate(lang_col=...) in scalar-only mode over the script-"
        "probe page (plans/text.py constants + a mod-3 terminal mark), "
        "routed by the deterministic probe language — per-row routed "
        "stopword hits (substr-matched for zh/ja/ko), alpha fraction, "
        "line-end-kept lines, and the c4/gopher keep decisions, with "
        "the whole lang->params chain regenerated in the DuckDB twin "
        "from the same dicts (rt_* columns)."
    ),
)
def repetition_profile(spark, sf_dir):
    from kafka_connect_ftp_spark.operators.gopher_rules import (
        gopher_quality_signals,
    )
    from kafka_connect_ftp_spark.operators.rule_gate import rule_gate
    from kafka_connect_ftp_spark.plans.text import _SCRIPT_PROBE_CASE, _docs_balanced

    # the routed rule_gate chain (literal lang->param maps + regex CASE
    # trees) makes eager re-analysis cost ~1.3s of driver time per
    # construction; the registry memo reuses the built plan
    docs = _docs_balanced(spark, sf_dir)
    gop = gopher_quality_signals(
        docs.select("doc_id", F.expr(_GOPHER_AUG_SPARK).alias("text"))
    )
    # the ROUTED scalar gate over the script-probe page (constants
    # above): the REAL rule_gate in scalar-only mode — one extra
    # map-side scan, the flags join back on the co-partitioned doc_id
    probe = docs.select(
        "doc_id",
        F.expr(f"concat({_SCRIPT_PROBE_CASE}, {_RT_MARK})").alias("_p"),
        F.expr(_RT_LANG_CASE).alias("_rt_lang"),
    )
    rt = rule_gate(
        probe,
        text_col="_p",
        lang_col="_rt_lang",
        min_words_per_line=1,
        min_sentences=1,
        include_repetition=False,
    ).select(
        "doc_id",
        F.expr(_RT_LANG_CASE).alias("rt_lang"),
        F.col("g_stop_hits").alias("rt_stop_hits"),
        F.col("g_alpha_frac").alias("rt_alpha_frac"),
        F.col("c4_kept_lines").alias("rt_kept_lines"),
        F.col("c4_sentences").alias("rt_sentences"),
        F.col("c4_keep").alias("rt_c4_keep"),
        F.col("gopher_keep").alias("rt_gopher_keep"),
    )
    return (
        repetition_signals(docs, top_ns=(2, 3, 4), dup_ns=(5, 10), decimals=6)
        .join(gop, "doc_id")
        .join(rt, "doc_id")
        .orderBy("doc_id")
    )


@register(
    "quality_model_flags",
    None,  # iterative LR training — the contract's documented non-SQL category
    doc=(
        "Model-based quality scoring (operators/quality_model.py) under "
        "the driver's rows-only check — the GPT-3/CCNet classifier "
        "stage: a logistic regression over hashed token counts is "
        "trained to separate a trusted reference sample (stand-in: "
        "sources src0-src4) from the rest of the crawl, every document "
        "is scored with P(reference), and the GPT-3 Pareto acceptance "
        "rule (hash-seeded inverse-CDF draw, deterministic per doc_id) "
        "decides keep/drop. One row per document; training is the one "
        "iterative step (once per build), scoring + acceptance are a "
        "single map-side JVM pass. No SQL oracle can express LBFGS, so "
        "this joins bpe_train_tokenize and sequence_packing in the "
        "rows-only category."
    ),
)
def quality_model_flags(spark, sf_dir):
    from kafka_connect_ftp_spark.operators.quality_model import (
        pareto_keep,
        score_quality,
        train_quality_classifier,
    )

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    trusted = F.col("source").isin(*[f"src{i}" for i in range(5)])
    model = train_quality_classifier(
        docs.filter(trusted), docs.filter(~trusted), n_features=1 << 14
    )
    scored = score_quality(docs, model)
    # alpha=2, not GPT-3's 9: their tail assumes a well-separated
    # classifier scoring real reference docs near 1.0; the synthetic
    # sources overlap heavily (scores top out ~0.8), so the heavier
    # tail keeps the flag non-vacuous (splits both ways at every SF).
    # keep is computed from the ROUNDED score the row carries, so the
    # emitted (score, keep) pair is self-consistent — re-deriving the
    # rule from the row's own columns reproduces the flag exactly
    return (
        scored.select(
            "doc_id", F.round("quality_score", 4).alias("quality_score")
        )
        .withColumn("keep", pareto_keep(alpha=2.0))
        # round 12: boundary before the sort — sampling otherwise
        # re-runs the feature-hash/score projection (0.43s -> 0.31s;
        # the governance_profile trade, see plans/text.py text_profile)
        .repartition("doc_id")
        .orderBy("doc_id")
    )


@register(
    "quality_filter_flags",
    f"""
    WITH t AS (
      SELECT doc_id, {_DUCK_TOKS} AS tk, LENGTH(text) AS n_chars FROM documents
    ),
    bg AS (
      SELECT doc_id, tk[CAST(i AS INTEGER)] || ' ' || tk[CAST(i AS INTEGER) + 1] AS b
      FROM t, generate_series(1, 8192) AS s(i) WHERE i <= LEN(tk) - 1
    ),
    bct AS (SELECT doc_id, b, COUNT(*) AS ct FROM bg GROUP BY 1, 2),
    rep AS (
      SELECT doc_id, ROUND(CAST(MAX(ct) AS DOUBLE) / SUM(ct), 4) AS top_bigram_frac
      FROM bct GROUP BY doc_id
    )
    SELECT t.doc_id,
           LEN(tk) BETWEEN 16 AND 4096 AS len_ok,
           (CAST(list_sum(list_transform(tk, x -> LENGTH(x))) AS DOUBLE) / LEN(tk))
             BETWEEN 3 AND 10 AS word_len_ok,
           (CAST(LEN(list_distinct(tk)) AS DOUBLE) / LEN(tk)) >= 0.2 AS diversity_ok,
           rep.top_bigram_frac,
           COALESCE(rep.top_bigram_frac <= 0.04, TRUE) AS repetition_ok,
           (LEN(tk) BETWEEN 16 AND 4096)
             AND ((CAST(list_sum(list_transform(tk, x -> LENGTH(x))) AS DOUBLE) / LEN(tk))
                  BETWEEN 3 AND 10)
             AND ((CAST(LEN(list_distinct(tk)) AS DOUBLE) / LEN(tk)) >= 0.2)
             AND COALESCE(rep.top_bigram_frac <= 0.04, TRUE) AS keep
    FROM t LEFT JOIN rep ON rep.doc_id = t.doc_id ORDER BY t.doc_id
    """,
    doc=(
        "Rule-based quality gate (Gopher/C4-style): token-count bounds, "
        "mean-word-length band, type-token diversity floor, plus the Gopher "
        "repetition metric — the fraction of all word 2-grams taken by the "
        "single most frequent one (high = boilerplate/loop text; the 0.04 "
        "threshold splits this corpus both ways at every SF so the flag is "
        "non-vacuous). The scalar flags are map-side; the bigram fraction "
        "is an explode + two-level hash aggregate co-partitioned on doc_id, "
        "left-joined so token-poor documents still gate (repetition_ok "
        "defaults true). keep is the conjunctive filter decision."
    ),
)
def quality_filter_flags(spark, sf_dir):
    from kafka_connect_ftp_spark.plans.text import _docs_balanced

    df = _docs_balanced(spark, sf_dir).withColumn("tk", F.expr(_TOKS))
    bigrams = df.select(
        "doc_id",
        F.explode(
            # empty array (not greatest(...,1)) for <2-token docs so they
            # produce no bigram rows, matching the oracle's i <= LEN-1
            F.expr(
                "CASE WHEN size(tk) >= 2 THEN"
                " transform(sequence(1, size(tk) - 1),"
                "  i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1)))"
                " ELSE array() END"
            )
        ).alias("b"),
    )
    rep = (
        bigrams.groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("ct"))
        .groupBy("doc_id")
        .agg(
            F.round(F.max("ct").cast("double") / F.sum("ct"), 4).alias("top_bigram_frac")
        )
    )
    n_tok = F.size("tk")
    mean_wl = F.expr("aggregate(transform(tk, x -> length(x)), 0, (a, x) -> a + x)").cast(
        "double"
    ) / n_tok
    diversity = F.size(F.array_distinct("tk")).cast("double") / n_tok
    len_ok = (n_tok >= 16) & (n_tok <= 4096)
    wl_ok = (mean_wl >= 3) & (mean_wl <= 10)
    div_ok = diversity >= 0.2
    rep_ok = F.coalesce(F.col("top_bigram_frac") <= 0.04, F.lit(True))
    return (
        df.join(rep, "doc_id", "left")
        .select(
            "doc_id",
            len_ok.alias("len_ok"),
            wl_ok.alias("word_len_ok"),
            div_ok.alias("diversity_ok"),
            "top_bigram_frac",
            rep_ok.alias("repetition_ok"),
            (len_ok & wl_ok & div_ok & rep_ok).alias("keep"),
        )
        .orderBy("doc_id")
    )
