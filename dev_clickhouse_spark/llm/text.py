"""Text-analysis operators over the ``documents`` table: token counting,
quality scoring, language-ID heuristic, document fingerprinting.

Everything here is built-in column expressions (split / regexp_extract_all /
md5 / array functions) — JVM-side, whole-stage codegen, no Python in the hot
path.  At 100 TB these are embarrassingly parallel map-only scans.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.ch_compat import round_half_up as rnd
from ..io import load_table
from ..queries.registry import register
from ..session import spread

#: BPE-ish pre-tokenizer: letter runs, single digits, punctuation runs —
#: the shape GPT-style byte-pair pre-tokenization produces on ASCII text.
BPEISH_PATTERN = r"[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]+"

#: Small stopword set used by the quality score (ratio features).
STOPWORDS = ("the", "a", "of", "and")


def tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def bpeish_token_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPEISH_PATTERN), 0))


def distinct_token_ratio(text: Column | str) -> Column:
    t = tokens(text)
    return F.size(F.array_distinct(t)) / F.size(t)


def stopword_ratio(text: Column | str) -> Column:
    t = tokens(text)
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    hits = F.size(F.filter(t, lambda x: F.array_contains(sw, x)))
    return hits / F.size(t)


def content_fingerprint(text: Column | str) -> Column:
    """Order-sensitive exact fingerprint: md5 of the raw text."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(c)


def bag_fingerprint(text: Column | str) -> Column:
    """Order-insensitive fingerprint: md5 over the sorted distinct token set —
    robust to token shuffling, the cheapest near-dup signal."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(tokens(text))), " "))


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------

@register(
    "text_token_stats",
    oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INTEGER)  AS n_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]+'))
            AS INTEGER)                               AS n_bpeish_tokens,
       CAST(length(text) AS INTEGER)                  AS n_chars,
       floor(len(list_distinct(string_split(text, ' ')))::DOUBLE
             / len(string_split(text, ' ')) * 10000 + 0.5) / 10000 AS distinct_ratio
FROM documents
""",
    tags=["llm-text"],
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counts, char length, vocabulary diversity."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").cast("int").alias("n_tokens"),
        bpeish_token_count("text").cast("int").alias("n_bpeish_tokens"),
        F.length("text").cast("int").alias("n_chars"),
        rnd(distinct_token_ratio("text"), 4).alias("distinct_ratio"),
    )


@register(
    "text_quality_scores",
    oracle="""
WITH t AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks, length(text) AS n_chars
  FROM documents
), m AS (
  SELECT doc_id, lang, n_chars,
         len(toks) AS n_tokens,
         len(list_filter(toks, x -> x IN ('the','a','of','and'))) AS sw,
         len(list_distinct(toks)) AS dt
  FROM t
)
SELECT doc_id, lang,
       CAST(n_tokens AS INTEGER) AS n_tokens,
       floor(sw::DOUBLE / n_tokens * 10000 + 0.5) / 10000       AS stopword_ratio,
       floor((1 - dt::DOUBLE / n_tokens) * 10000 + 0.5) / 10000 AS repetition,
       floor(least(n_chars / 400.0, 1.0) * 10000 + 0.5) / 10000 AS length_score
FROM m
""",
    tags=["llm-text"],
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features: stopword ratio, repetition (1 − distinct
    ratio), saturating length score — the standard pretraining-filter trio."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        token_count("text").cast("int").alias("n_tokens"),
        rnd(stopword_ratio("text"), 4).alias("stopword_ratio"),
        rnd(1 - distinct_token_ratio("text"), 4).alias("repetition"),
        rnd(F.least(F.length("text") / 400.0, F.lit(1.0)), 4).alias("length_score"),
    )


#: pinned quality-classifier weights (a trained fasttext/logreg filter ships
#: as constants exactly like this): bias, stopword_ratio, repetition,
#: length_score.  Dyadic values so the literal parses identically everywhere.
_QM_W = (-1.5, 4.0, -6.0, 2.5)
_QM_KEEP = 0.5


def quality_score_col(text: Column | str = "text") -> Column:
    """The pinned-weight quality-classifier score as a reusable column
    (rational sigmoid — see ``quality_model_scores``); bit-exact across
    Spark/DuckDB given the 4dp-rounded features."""
    sw = rnd(stopword_ratio(text), 4)
    rep = rnd(1 - distinct_token_ratio(text), 4)
    ls = rnd(
        F.least(F.length(text if isinstance(text, Column) else F.col(text))
                / 400.0, F.lit(1.0)), 4
    )
    z = (
        F.lit(_QM_W[0]) + F.lit(_QM_W[1]) * sw + F.lit(_QM_W[2]) * rep
        + F.lit(_QM_W[3]) * ls
    )
    return F.lit(0.5) + z / (F.lit(2.0) * (F.lit(1.0) + F.abs(z)))


@register(
    "quality_model_scores",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS n_chars
  FROM documents
), m AS (
  SELECT doc_id,
         floor(len(list_filter(toks, x -> x IN ('the','a','of','and')))::DOUBLE
               / len(toks) * 10000 + 0.5) / 10000 AS sw,
         floor((1 - len(list_distinct(toks))::DOUBLE / len(toks))
               * 10000 + 0.5) / 10000 AS rep,
         floor(least(n_chars / 400.0, 1.0) * 10000 + 0.5) / 10000 AS ls
  FROM t
), z AS (
  SELECT doc_id,
         {_QM_W[0]} + {_QM_W[1]} * sw + {_QM_W[2]} * rep
           + {_QM_W[3]} * ls AS z
  FROM m
), s AS (
  SELECT doc_id, 0.5 + z / (2 * (1 + abs(z))) AS score FROM z
)
SELECT doc_id,
       floor(score * 10000 + 0.5) / 10000 AS quality_score,
       CAST(score >= {_QM_KEEP} AS BOOLEAN) AS keep
FROM s
""",
    tags=["llm-text", "quality-model"],
)
def quality_model_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring — the pretraining-filter step after the
    heuristic trio: a logistic-shaped classifier over the quality features
    with PINNED weights (a trained filter deploys exactly like this — the
    weights are data, the scoring plan is this map-only projection; at
    100 TB the score is one whole-stage-codegen pass, no shuffle).

    The link is the rational sigmoid ``0.5 + z / (2 (1 + |z|))`` rather
    than ``1/(1+e^-z)``: monotone, same decision boundary at z = 0, and
    built only from correctly-rounded IEEE ops (+, *, /, abs) — so
    Spark and the DuckDB oracle produce bit-identical scores, where
    ``exp`` may differ in the last ulp between libms.  Features are
    rounded to 4dp BEFORE the linear layer so both engines fold the same
    doubles."""
    docs = load_table(spark, sf_dir, "documents")
    score = quality_score_col("text")
    return docs.select(
        "doc_id",
        rnd(score, 4).alias("quality_score"),
        (score >= F.lit(_QM_KEEP)).alias("keep"),
    )


def rolling_hash_fingerprints(
    docs: DataFrame, window: int = 16, keep: int = 8,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Winnowing-style document fingerprints from a Rabin-Karp rolling hash:
    polynomial hash (base 257, mod 2^61−1) over every ``window``-byte
    substring in O(n), keep the ``keep`` smallest values as the fingerprint
    set.  Two documents sharing fingerprints share long byte runs — the
    substring-level near-dup signal that token shingles miss.  Map-only
    Arrow stage (true rolling hashes aren't expressible as column
    expressions)."""
    MOD = (1 << 61) - 1
    BASE = 257

    def fingerprints(text: str) -> list[int]:
        data = (text or "").encode()
        if len(data) < window:
            return []
        h = 0
        pw = pow(BASE, window - 1, MOD)
        hashes = []
        for i, byte in enumerate(data):
            if i >= window:
                h = (h - data[i - window] * pw) % MOD
            h = (h * BASE + byte) % MOD
            if i >= window - 1:
                hashes.append(h)
        return sorted(set(hashes))[:keep]

    @F.pandas_udf("array<long>")
    def fp(texts: pd.Series) -> pd.Series:
        return texts.map(fingerprints)

    return docs.select(F.col(id_col), fp(F.col(text_col)).alias("fingerprints"))


_RH_MOD = (1 << 61) - 1
_RH_POWERS_SQL = ", ".join(
    f"({j}, {pow(257, 15 - j, _RH_MOD)})" for j in range(16)
)


@register(
    "rolling_hash_fingerprints",
    oracle=f"""
WITH pw(j, p) AS (VALUES {_RH_POWERS_SQL}),
pos AS (
  SELECT doc_id, text, CAST(i AS INTEGER) AS i
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, greatest(length(text) - 15, 0))) AS i)
),
win AS (
  SELECT doc_id, i,
         CAST(sum(CAST(ascii(substr(text, i + pw.j, 1)) AS HUGEINT) * pw.p)
              % {_RH_MOD} AS BIGINT) AS h
  FROM pos CROSS JOIN pw
  GROUP BY doc_id, i
),
fp AS (SELECT DISTINCT doc_id, h FROM win),
agg AS (
  SELECT doc_id,
         CAST(least(count(*), 8) AS INTEGER) AS n_fp,
         min(h) AS min_fp
  FROM fp GROUP BY doc_id
)
SELECT d.doc_id, coalesce(a.n_fp, 0) AS n_fp, a.min_fp
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
""",
    tags=["llm-text", "llm-dedup"],
)
def rolling_hash_fingerprints_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprint summary per document, oracle-checked: the
    Rabin-Karp recurrence equals the closed-form window polynomial
    Σ byte[i+j]·257^(15−j) mod 2^61−1, which DuckDB evaluates with HUGEINT
    arithmetic over the (all-ASCII) corpus — the Arrow stage's exact hashes
    are replayed, not just row counts."""
    docs = load_table(spark, sf_dir, "documents")
    out = rolling_hash_fingerprints(docs)
    return out.select(
        "doc_id",
        F.size("fingerprints").cast("int").alias("n_fp"),
        F.element_at("fingerprints", 1).alias("min_fp"),
    )


#: language marker words for the n-gram/lexicon language-ID heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a"),
    "es": ("data", "row"),
    "de": ("key", "value"),
    "fr": ("query", "table"),
    "zh": ("spark", "column"),
}


@register(
    "lang_id_markers",
    oracle=f"""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
c AS (
  SELECT doc_id, lang,
         {', '.join(
             "len(list_filter(toks, x -> x IN ("
             + ', '.join(f"'{w}'" for w in ws)
             + f"))) AS c_{lang_code}"
             for lang_code, ws in LANG_MARKERS.items()
         )}
  FROM t
)
SELECT doc_id, lang,
       CASE greatest(c_en, c_es, c_de, c_fr, c_zh)
            WHEN c_en THEN 'en' WHEN c_es THEN 'es' WHEN c_de THEN 'de'
            WHEN c_fr THEN 'fr' ELSE 'zh' END AS predicted_lang
FROM c
""",
    tags=["llm-text"],
)
def lang_id_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-LEXICON language ID — the cheap map-only heuristic, kept for
    the synthetic corpus whose lang column correlates with token choice.
    NOT production lang-ID: the real implementation is
    :func:`lang_id_char_ngrams` (Cavnar–Trenkle character-trigram profiles,
    accuracy-tested on genuine mixed-language text)."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "lang", tokens("text").alias("toks"))
    def marker_count(words: tuple[str, ...]):
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(F.col("toks"), lambda x: F.array_contains(arr, x)))

    counts = t.select(
        "doc_id",
        "lang",
        *[
            marker_count(ws).alias(f"c_{lang_code}")
            for lang_code, ws in LANG_MARKERS.items()
        ],
    )
    best = F.greatest(*[F.col(f"c_{lc}") for lc in LANG_MARKERS])
    pred = F.when(F.col("c_en") == best, "en")
    for lc in ("es", "de", "fr"):
        pred = pred.when(F.col(f"c_{lc}") == best, lc)
    pred = pred.otherwise("zh")
    return counts.select("doc_id", "lang", pred.alias("predicted_lang"))


#: default pretraining-filter thresholds over the text_quality_scores trio
QUALITY_THRESHOLDS = {
    "min_tokens": 5,
    "max_stopword_ratio": 0.7,
    "max_repetition": 0.6,
    "min_length_score": 0.05,
}


def quality_filter(docs: DataFrame, thresholds: dict | None = None) -> DataFrame:
    """The quality-score ACTION: keep documents passing every threshold,
    attaching a ``drop_reason`` (NULL = kept) so the filter is auditable —
    the standard pretraining-corpus filter shape.  Map-only; composes the
    same column expressions text_quality_scores oracles."""
    t = {**QUALITY_THRESHOLDS, **(thresholds or {})}
    n = token_count("text")
    reasons = F.when(n < t["min_tokens"], "too_short").when(
        stopword_ratio("text") > t["max_stopword_ratio"], "stopword_heavy"
    ).when(
        (1 - distinct_token_ratio("text")) > t["max_repetition"], "repetitive"
    ).when(
        F.least(F.length("text") / 400.0, F.lit(1.0)) < t["min_length_score"],
        "too_small",
    )
    return docs.withColumn("drop_reason", reasons)


def quality_keep(docs: DataFrame, thresholds: dict | None = None) -> DataFrame:
    """Only the surviving documents (the filter applied)."""
    return quality_filter(docs, thresholds).filter(
        F.col("drop_reason").isNull()
    ).drop("drop_reason")


# ---------------------------------------------------------------------------
# Char-n-gram language ID (Cavnar–Trenkle-style trigram profiles)
# ---------------------------------------------------------------------------

#: Tiny seed corpora (original text written for this module) the trigram
#: profiles are trained from at import.  Real deployments would train on
#: held-out corpus samples; the PIPELINE — profile table broadcast, JVM-side
#: map-only scoring, integer weights so two engines argmax identically — is
#: the production shape.
_SEED_CORPORA: dict[str, str] = {
    "en": (
        "the quick brown fox jumps over the lazy dog and then the little "
        "children walked to the school because they wanted to learn about "
        "history and science while the weather was still warm enough for "
        "playing outside in the garden with their friends after lunch the "
        "old library near the market opens early every morning and people "
        "come there to read the newspapers and talk about the latest news "
        "this computer program processes many files very quickly and writes "
        "the results into a table so that everyone can search through them "
        "when they need an answer to a difficult question about the system"
    ),
    "es": (
        "el rápido zorro marrón salta sobre el perro perezoso y luego los "
        "niños pequeños caminaron hacia la escuela porque querían aprender "
        "sobre historia y ciencia mientras el tiempo todavía era bastante "
        "cálido para jugar afuera en el jardín con sus amigos después de la "
        "comida la vieja biblioteca cerca del mercado abre temprano cada "
        "mañana y la gente viene a leer los periódicos y hablar de las "
        "últimas noticias este programa de computadora procesa muchos "
        "archivos muy rápidamente y escribe los resultados en una tabla para "
        "que todos puedan buscar en ellos cuando necesiten una respuesta a "
        "una pregunta difícil sobre el sistema"
    ),
    "de": (
        "der schnelle braune fuchs springt über den faulen hund und dann "
        "gingen die kleinen kinder zur schule weil sie etwas über geschichte "
        "und wissenschaft lernen wollten während das wetter noch warm genug "
        "war um draußen im garten mit ihren freunden nach dem mittagessen zu "
        "spielen die alte bibliothek in der nähe des marktes öffnet jeden "
        "morgen früh und die leute kommen dorthin um die zeitungen zu lesen "
        "und über die neuesten nachrichten zu sprechen dieses "
        "computerprogramm verarbeitet viele dateien sehr schnell und "
        "schreibt die ergebnisse in eine tabelle damit alle darin suchen "
        "können wenn sie eine antwort auf eine schwierige frage über das "
        "system brauchen"
    ),
    "fr": (
        "le rapide renard brun saute par dessus le chien paresseux et puis "
        "les petits enfants ont marché vers l école parce qu ils voulaient "
        "apprendre l histoire et la science pendant que le temps était "
        "encore assez chaud pour jouer dehors dans le jardin avec leurs amis "
        "après le déjeuner la vieille bibliothèque près du marché ouvre tôt "
        "chaque matin et les gens y viennent pour lire les journaux et "
        "parler des dernières nouvelles ce programme informatique traite "
        "beaucoup de fichiers très rapidement et écrit les résultats dans "
        "une table pour que tout le monde puisse y chercher quand il faut "
        "une réponse à une question difficile sur le système"
    ),
}

#: Cavnar–Trenkle parameters: language profile depth, document profile depth,
#: and the out-of-place penalty for a doc trigram absent from a profile.
#: All-integer distances so Spark and DuckDB argmin bit-identically.
LANG_PROFILE_K = 200
DOC_PROFILE_K = 40
_OOP_PENALTY = LANG_PROFILE_K


def _train_profiles() -> dict[str, dict[str, int]]:
    """Per-language trigram→rank maps (rank 1 = most frequent), the
    Cavnar–Trenkle n-gram frequency profile."""
    from collections import Counter

    profiles: dict[str, dict[str, int]] = {}
    for lang, seed in _SEED_CORPORA.items():
        s = seed.lower()
        counts = Counter(s[i : i + 3] for i in range(len(s) - 2))
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:LANG_PROFILE_K]
        profiles[lang] = {tg: r + 1 for r, (tg, _) in enumerate(top)}
    return profiles


LANG_PROFILES: dict[str, dict[str, int]] = _train_profiles()


def _char_trigrams(text: Column | str) -> Column:
    """All sliding 3-char windows of lower(text), JVM-side; [] under 3 chars.
    The input is let-bound (transform-over-single-array) so the lowered text
    exists once in the plan."""
    c = F.col(text) if isinstance(text, str) else text
    return F.transform(F.array(F.lower(c)), lambda s: F.when(
        F.length(s) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.length(s) - 2),
            lambda i: F.substring(s, i, F.lit(3)),
        ),
    ).otherwise(F.array().cast("array<string>")))[0]


def _char_trigram_rows(
    docs: DataFrame, id_col: str, text_col: str, out_col: str,
) -> DataFrame:
    """(id, trigram) rows — the exploded form of :func:`_char_trigrams`,
    built for speed (r13, guide §4.1/§2.6): explode a POSITION sequence and
    take ``substring(s, i, 3)`` in the projection, which runs under
    whole-stage codegen, instead of materializing the per-doc trigram array
    through interpreted ``transform`` lambdas (measured slower); and spread
    a single-partition input across cores first — a one-file table otherwise
    runs the whole corpus explode as ONE task (at real scale the input is
    already split).  Emits exactly the same row multiset, docs under 3 chars
    drop out (they contribute no trigrams either way)."""
    inp = spread(docs.select(F.col(id_col), F.col(text_col)))
    return (
        inp.select(F.col(id_col), F.lower(F.col(text_col)).alias("__s"))
        .filter(F.length("__s") >= 3)
        .select(
            F.col(id_col),
            "__s",
            F.explode(F.sequence(F.lit(1), F.length("__s") - 2)).alias("__i"),
        )
        .select(F.col(id_col), F.expr("substring(__s, __i, 3)").alias(out_col))
    )


def lang_id_predict(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Cavnar–Trenkle out-of-place language ID: rank the document's own top
    trigrams (count desc, trigram asc), measure rank displacement against
    each language profile (missing trigram = fixed penalty), argmin with
    lang-code tie order.  Docs too short for any trigram deterministically
    fall back to the first language code.

    Map-only: each document's profile and distances are computed inside an
    Arrow ``mapInPandas`` batch, one output row per doc, zero shuffle.  The
    DuckDB oracle replays the same rank/score/argmin as an explode +
    window pipeline in SQL.  Output: the id column renamed to ``doc_id``
    and moved first, the remaining columns, then ``predicted_lang``."""
    from collections import Counter

    import pandas as pd

    langs = sorted(LANG_PROFILES)
    fallback = langs[0]
    profiles = {lang: dict(LANG_PROFILES[lang]) for lang in langs}

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [*docs.schema.fields, T.StructField("predicted_lang", T.StringType())]
    )

    def predict_one(text) -> str:
        s = (text or "").lower()
        if len(s) < 3:
            return fallback
        counts = Counter(s[i:i + 3] for i in range(len(s) - 2))
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        top = top[:DOC_PROFILE_K]
        best_lang, best_dist = fallback, None
        for lang in langs:  # asc lang order = the oracle's tie-break
            prof = profiles[lang]
            dist = 0
            for rn, (tg, _c) in enumerate(top, start=1):
                pr = prof.get(tg)
                dist += _OOP_PENALTY if pr is None else abs(rn - pr)
            if best_dist is None or dist < best_dist:
                best_lang, best_dist = lang, dist
        return best_lang

    def run(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["predicted_lang"] = pd.Series(
                [predict_one(t) for t in pdf[text_col]], index=pdf.index,
                dtype="object",
            )
            yield pdf

    others = [c for c in docs.columns if c != id_col]
    return docs.mapInPandas(run, out_schema).select(
        F.col(id_col).alias("doc_id"), *others, "predicted_lang"
    )


def _lang_profile_values_sql() -> str:
    rows = []
    for lang, prof in LANG_PROFILES.items():
        for tg, r in prof.items():
            rows.append(f"('{lang}', '{tg.replace(chr(39), chr(39) * 2)}', {r})")
    return ", ".join(rows)


_LANG_NGRAM_ORACLE = f"""
WITH prof(plang, ptg, pr) AS (VALUES {_lang_profile_values_sql()}),
langs AS (SELECT DISTINCT plang FROM prof),
t AS (SELECT doc_id, lang, lower(text) AS s FROM documents),
tg AS (
  SELECT doc_id, substr(s, CAST(i AS INTEGER), 3) AS tg
  FROM t, LATERAL (SELECT unnest(generate_series(1, greatest(length(s) - 2, 0))) AS i)
),
cnt AS (SELECT doc_id, tg, count(*) AS c FROM tg GROUP BY 1, 2),
doc_rank AS (
  SELECT doc_id, tg, rn FROM (
    SELECT doc_id, tg,
           row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, tg) AS rn
    FROM cnt
  ) WHERE rn <= {DOC_PROFILE_K}
),
dist AS (
  SELECT d.doc_id, l.plang,
         CAST(sum(CASE WHEN p.pr IS NULL THEN {_OOP_PENALTY}
                       ELSE abs(d.rn - p.pr) END) AS BIGINT) AS dist
  FROM doc_rank d CROSS JOIN langs l
  LEFT JOIN prof p ON p.plang = l.plang AND p.ptg = d.tg
  GROUP BY 1, 2
),
best AS (
  SELECT doc_id, plang, row_number() OVER (
           PARTITION BY doc_id ORDER BY dist, plang) AS brn
  FROM dist
)
SELECT t.doc_id, t.lang, coalesce(b.plang, 'de') AS predicted_lang
FROM t LEFT JOIN best b ON b.doc_id = t.doc_id AND b.brn = 1
"""


@register("lang_id_char_ngrams", oracle=_LANG_NGRAM_ORACLE, tags=["llm-text"])
def lang_id_char_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language ID over ``documents``: Cavnar–Trenkle
    out-of-place rank distance against the four trained trigram profiles
    (all-integer, deterministic tie order) — see :func:`lang_id_predict`.
    Accuracy on real mixed-language fixtures is asserted in
    tests/test_llm.py; this registration proves cross-engine parity of the
    full rank/score/argmin pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    return lang_id_predict(docs).select("doc_id", "lang", "predicted_lang")


@register(
    "lang_id_char_ngrams_arrow", oracle=_LANG_NGRAM_ORACLE, tags=["llm-text"]
)
def lang_id_char_ngrams_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry alias of ``lang_id_char_ngrams`` (the same
    :func:`lang_id_predict`, the same oracle), kept so existing callers of
    the name keep working."""
    return lang_id_char_ngrams(spark, sf_dir)


@register(
    "tfidf_top_keywords",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, count(*) AS freq FROM tok GROUP BY doc_id, token
), df AS (
  SELECT token, count(*) AS doc_freq FROM tf GROUP BY token
), n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token,
         floor(tf.freq * (n.n_docs::DOUBLE / df.doc_freq) * 10000 + 0.5) / 10000
           AS score
  FROM tf JOIN df USING (token) CROSS JOIN n
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, token) AS rn
  FROM scored
)
SELECT doc_id, token, CAST(rn AS INTEGER) AS rank, score
FROM ranked WHERE rn <= 3
""",
    tags=["llm-text", "tfidf"],
)
def tfidf_top_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinctive keywords per document by TF·(N/df) weighting (the
    log-free tf-idf variant — pure arithmetic, so both engines score
    bit-identically).  Shapes: ONE token explode → tf count (shuffle on
    doc_id+token, map-side combinable) → df derived FROM tf (tf has one row
    per doc×token, so count(*) per token ≡ document frequency — no second
    scan, no per-pair re-split of the text) → broadcast df join → windowed
    top-k."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    tok = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("freq"))
    df_counts = tf.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    # corpus size rides the plan as a broadcast one-row aggregate — a driver
    # .count() here would be an extra full scan at declaration time
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    # df_counts scales with VOCABULARY size — no broadcast hint; AQE
    # broadcasts at small sf and shuffle-joins on token at corpus scale
    scored = tf.join(df_counts, "token").crossJoin(F.broadcast(n)).select(
        "doc_id",
        "token",
        rnd(F.col("freq") * (F.col("n_docs") / F.col("doc_freq")), 4).alias(
            "score"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "token", F.col("rank").cast("int").alias("rank"), "score")
    )


@register(
    "doc_fingerprints",
    oracle="""
SELECT doc_id,
       md5(text) AS exact_fp,
       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
         AS bag_fp
FROM documents
""",
    tags=["llm-text", "llm-dedup"],
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact + order-insensitive document fingerprints (md5) — the join keys
    for exact and bag-of-words dedup."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        content_fingerprint("text").alias("exact_fp"),
        bag_fingerprint("text").alias("bag_fp"),
    )


@register(
    "lm_char_trigram_scores",
    oracle="""
WITH lt AS (SELECT doc_id, lower(text) AS s FROM documents),
tri AS (
  SELECT doc_id, substring(s, i, 3) AS t
  FROM lt, LATERAL (SELECT unnest(generate_series(1, length(s) - 2)) AS i)
  WHERE length(s) >= 3
),
c3 AS (SELECT t, count(*) AS c3 FROM tri GROUP BY t),
c2 AS (SELECT substring(t, 1, 2) AS b, sum(c3) AS c2 FROM c3 GROUP BY 1),
v AS (SELECT count(DISTINCT substring(t, 3, 1)) AS v FROM c3),
lm AS (
  SELECT c3.t, ln((c3.c3 + 1.0) / (c2.c2 + v.v)) AS lp
  FROM c3 JOIN c2 ON substring(c3.t, 1, 2) = c2.b CROSS JOIN v
)
SELECT tri.doc_id,
       CAST(count(*) AS BIGINT) AS n_trigrams,
       floor(avg(lm.lp) * 10000 + 0.5) / 10000 AS avg_logprob
FROM tri JOIN lm ON lm.t = tri.t
GROUP BY tri.doc_id
""",
    tags=["llm-text", "llm-quality"],
)
def lm_char_trigram_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring: a char-trigram language model with
    add-one smoothing, trained on the corpus itself, scores every document
    by its average trigram log-probability — the cheap stand-in for the
    KenLM-style perplexity filters pretraining pipelines run (low scores =
    unusual character statistics: boilerplate, encoding garbage, wrong
    language).  P(z | xy) = (C3(xyz)+1) / (C2(xy)+V), V = distinct third
    characters.

    Scale shape: trigram occurrences are a map-only explode; the LM itself
    is BOUNDED by charset³ regardless of corpus size, so both model joins
    broadcast and the only data-sized shuffles are the count aggregation
    (map-side combined) and the per-doc average.  Docs under 3 chars emit
    no trigrams and drop out, same as the oracle's inner join."""
    docs = load_table(spark, sf_dir, "documents")
    tri = _char_trigram_rows(docs, "doc_id", "text", "t")
    # localCheckpoint (lazy): c2, v and the LM join all derive from c3 —
    # without it the corpus-wide trigram explode + count shuffle runs three
    # times in one plan (r13 plan audit: 4 documents scans, 3 aggregation
    # exchanges).  c3 is bounded by charset³ regardless of corpus size, so
    # the checkpoint is metadata-cheap at any scale.
    c3 = tri.groupBy("t").agg(F.count(F.lit(1)).alias("c3")).localCheckpoint(
        eager=False
    )
    c2 = c3.groupBy(F.substring("t", 1, 2).alias("b")).agg(
        F.sum("c3").alias("c2")
    )
    v = c3.select(
        F.countDistinct(F.substring("t", 3, 1)).alias("v")
    )
    lm = (
        c3.join(F.broadcast(c2), F.substring(c3.t, 1, 2) == c2.b)
        .crossJoin(F.broadcast(v))
        .select(
            "t",
            F.log((F.col("c3") + 1.0) / (F.col("c2") + F.col("v"))).alias("lp"),
        )
    )
    return (
        tri.join(F.broadcast(lm), "t")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            rnd(F.avg("lp"), 4).alias("avg_logprob"),
        )
    )


#: Gopher quality-rule thresholds (Rae et al. 2021, table A1) + the C4
#: "lorem ipsum" guard (Raffel et al. 2020).  The must-contain stop list
#: is Gopher's 8-word list; docs pass when >= 2 appear.
_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS = 50, 100_000
_GOPHER_MIN_MWL, _GOPHER_MAX_MWL = 3.0, 10.0
_GOPHER_MIN_ALPHA_FRAC = 0.8


@register(
    "gopher_quality_flags",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, string_split(lower(text), ' ') AS toks
  FROM documents
), m AS (
  SELECT doc_id, lang,
         CAST(len(toks) AS BIGINT) AS n_words,
         len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))::DOUBLE
           / len(toks) AS alpha_frac,
         (SELECT sum(length(x)) FROM unnest(toks) AS u(x))::DOUBLE
           / len(toks) AS mean_word_len,
         len(list_filter(toks,
             x -> x IN {_GOPHER_STOPS})) AS n_stops,
         contains(lower(list_aggregate(toks, 'string_agg', ' ')),
                  'lorem ipsum') AS has_lorem
  FROM t
)
SELECT doc_id, lang, n_words,
       floor(mean_word_len * 10000 + 0.5) / 10000 AS mean_word_len,
       floor(alpha_frac * 10000 + 0.5) / 10000 AS alpha_frac,
       CAST(n_stops AS BIGINT) AS n_stop_hits,
       (n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS})
         AND mean_word_len >= {_GOPHER_MIN_MWL}
         AND mean_word_len <= {_GOPHER_MAX_MWL}
         AND alpha_frac >= {_GOPHER_MIN_ALPHA_FRAC}
         AND n_stops >= 2
         AND NOT has_lorem AS gopher_pass
FROM m
""",
    tags=["llm-text", "llm-quality", "gopher"],
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-set quality filter (Rae et al. 2021 A1) + C4's "lorem
    ipsum" guard: word-count window, mean word length in [3, 10],
    fraction of words containing an alphabetic character >= 0.8, >= 2
    hits from the 8-word must-contain stop list, no boilerplate marker.
    The named rule set modern pretraining pipelines start from (Gopher,
    RefinedWeb, FineWeb all ship variants).  Map-only: every rule is a
    JVM higher-order expression over the split-token array — no shuffle,
    no UDF; at 100 TB this runs at scan speed next to the other
    per-document scorers."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    n_words = F.size(toks).cast("long")
    alpha_frac = (
        F.size(F.filter(toks, lambda x: x.rlike("[a-z]")))
        .cast("double") / F.size(toks)
    )
    mean_wl = (
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).cast("double") / F.size(toks)
    )
    stops = F.array(*[F.lit(s) for s in _GOPHER_STOPS])
    n_stops = F.size(F.filter(toks, lambda x: F.array_contains(stops, x)))
    has_lorem = F.lower(F.col("text")).contains("lorem ipsum")
    gopher_pass = (
        n_words.between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
        & (mean_wl >= _GOPHER_MIN_MWL)
        & (mean_wl <= _GOPHER_MAX_MWL)
        & (alpha_frac >= _GOPHER_MIN_ALPHA_FRAC)
        & (n_stops >= 2)
        & ~has_lorem
    )
    return docs.select(
        "doc_id", "lang",
        n_words.alias("n_words"),
        rnd(mean_wl, 4).alias("mean_word_len"),
        rnd(alpha_frac, 4).alias("alpha_frac"),
        n_stops.cast("long").alias("n_stop_hits"),
        gopher_pass.alias("gopher_pass"),
    )
