"""Text-analysis operators for document pipelines.

All expression-level (split/filter/aggregate on the token array — no
UDFs), so they run inside whole-stage codegen and scale linearly with
partition count:

- token counting (whitespace tokens + a BPE-ish subword regex count)
- quality scoring (length / punctuation / stopword ratios)
- language-ID (stopword-hit heuristic over per-language marker lists)
- document fingerprinting (md5 head/tail/length canonical fingerprint)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .hashing import md5_prefix_long

STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "fr": ("le", "la", "les", "et", "de", "un", "une", "est"),
    "es": ("el", "la", "los", "y", "de", "un", "una", "es"),
    "de": ("der", "die", "das", "und", "ein", "ist", "zu", "den"),
}

#: crude BPE-ish subword splitter: letter runs, digit runs, single symbols
#: \s spelled out (r11 session review): inside the negated class a
#: dialect-divergent \s makes VT a 'symbol' token in RE2 but not Java
SUBWORD_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\f\r\x0B]"


#: THE whitespace class, shared by tokens() and every oracle replay —
#: explicit, because the shorthand diverges across regex dialects:
#: Java's ``\s`` includes vertical tab U+000B, DuckDB/RE2's does not.
WS_CLASS = r"[ \t\n\f\r\x0B]"


def ws_trim(text: Column) -> Column:
    """Strip leading/trailing whitespace of ANY kind (the full
    :data:`WS_CLASS`, not F.trim's ASCII-space-only)."""
    return F.regexp_replace(text, f"^{WS_CLASS}+|{WS_CLASS}+$", "")


def tokens(text: Column) -> Column:
    """Whitespace tokenization: full-whitespace trim, split on runs of
    :data:`WS_CLASS`.

    r11 coordinated migration (the change ADVICE r10→r11 planned): the
    old form (``split(trim(text), '\\s+')``) space-only-trimmed, so a
    leading/trailing ``\\n``/``\\t`` produced an empty '' edge token in
    every consumer (shingles, span hashes, quality features, counts) —
    a real wart on any corpus where documents end in newlines — and
    ``\\s`` itself read differently across engines (see WS_CLASS).
    tokens(), ``lm.bigram_rows``, and every oracle replay
    (:func:`tokens_sql` — conformance-pytest-enforced) switched to this
    recipe in ONE change, so the engines still agree exactly; the
    shipped fixtures carry no edge control-whitespace, so every pinned
    spec result is unchanged (verified by a full 149-spec sweep).

    Remaining pinned quirk: empty and whitespace-only text still yields
    ``['']`` (``split('') == ['']``) — use :func:`token_count_strict`
    where that must count 0."""
    return F.split(ws_trim(text), f"{WS_CLASS}+")


def tokens_sql(expr: str = "text", esc: int = 2) -> str:
    """THE DuckDB replay of :func:`tokens` — generated from the same
    WS_CLASS so the two engines can never fork. ``esc`` is the
    backslash depth the call site's Python string context needs (2 for
    plain ``\"\"\"`` SQL strings, 1 for ``r\"\"\"`` raw strings); a
    conformance pytest greps the spec layer so no site can drift from
    this recipe."""
    cls = WS_CLASS.replace("\\", "\\" * esc)
    return (
        f"string_split_regex(regexp_replace({expr}, "
        f"'^{cls}+|{cls}+$', '', 'g'), '{cls}+')"
    )


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def token_count_strict(text: Column) -> Column:
    """Like :func:`token_count` but 0 for empty/whitespace-only text
    (``split('')`` is ``['']``, so the plain count reports 1). The lm /
    importance operators already drop the '' token; use this variant
    where the accounting must agree with them (review r8: the shard
    manifest counted a shard of empty docs as n_docs tokens). The
    emptiness test is :func:`ws_trim`-based (r11 migration), so a
    ``'\\n'``-only document counts 0 here — the space-only F.trim form
    counted its two phantom edge tokens. The plain variant keeps its
    pinned ``['']`` quirk; both engines agree on it."""
    return F.when(ws_trim(text) == "", F.lit(0)).otherwise(
        F.size(tokens(text))
    )


def subword_count(text: Column) -> Column:
    """Count of BPE-ish subword units (regexp_extract_all length)."""
    return F.size(F.regexp_extract_all(text, F.lit(SUBWORD_RE), 0))


def stopword_hits(text: Column, lang: str = "en") -> Column:
    words = STOPWORDS[lang]
    return F.size(F.filter(tokens(text), lambda t: t.isin(*words)))


def punct_count(text: Column) -> Column:
    return F.length(text) - F.length(F.regexp_replace(text, r"[.,;:!?'\"()-]", ""))


def quality_features(
    df: DataFrame, id_col: str, text_col: str, lang: str = "en"
) -> DataFrame:
    """Per-document quality features + a simple keep/drop flag.

    ``lang`` selects the stopword list the stopword-ratio gate tests
    against (review r7: a hardcoded 'en' made the gate reject virtually
    every document of a non-English corpus regardless of quality —
    callers curating another language pass its code).

    Ratios are int/int divisions (exact given same ints) rounded at a
    fixed precision, so the output is engine-portable. Heavy string work
    (token split, stopword filter, regex strips) is computed ONCE in a
    staged projection and reused — higher-order functions are interpreted
    (not codegen'd), so duplicated subtrees are real per-row cost.
    """
    t = F.col(text_col)
    staged = df.select(
        F.col(id_col),
        F.length(t).alias("n_chars_text"),
        token_count(t).alias("n_tokens"),
        # WS_CLASS, not \s: the T02 oracle replays this in RE2,
        # whose \s lacks vertical tab (r11 session review)
        F.length(F.regexp_replace(t, WS_CLASS, "")).alias("n_nonspace"),
        stopword_hits(t, lang).alias("stop_hits"),
        punct_count(t).alias("n_punct"),
    )
    # try_divide: empty/NULL documents yield NULL ratios instead of an
    # ANSI DIVIDE_BY_ZERO crash killing the whole stage
    return staged.select(
        id_col,
        "n_chars_text",
        "n_tokens",
        F.round(F.try_divide(F.col("n_nonspace") * 1.0, F.col("n_tokens")), 6).alias("avg_token_len"),
        F.round(F.try_divide(F.col("stop_hits") * 1.0, F.col("n_tokens")), 6).alias("stopword_ratio"),
        F.round(F.try_divide(F.col("n_punct") * 1.0, F.col("n_chars_text")), 6).alias("punct_ratio"),
        (
            (F.col("n_tokens") >= 10)
            & (F.col("n_tokens") <= 100_000)
            & (F.col("stop_hits") * 20 >= F.col("n_tokens"))  # ratio >= 0.05
        ).alias("quality_keep"),
    )


def langid(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-hit language ID: argmax of per-language marker hits.
    Zero evidence (no hits in any language) → 'und'; a TIE between
    nonzero languages resolves to the alphabetically-FIRST of them —
    deterministic, and exactly what the DuckDB oracle's CASE cascade
    replays (the driver hash pins this tie rule)."""
    # tokenize ONCE and filter the staged array per language (review
    # r10: stopword_hits re-split the full text per language — 4x the
    # tokenization CPU; HOFs are interpreted, no CSE)
    staged = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    )
    out = staged.select(
        F.col(id_col),
        *[
            F.size(
                F.filter(
                    F.col("_toks"), lambda tk: tk.isin(*STOPWORDS[lang])
                )
            ).alias(f"hits_{lang}")
            for lang in STOPWORDS
        ],
    )
    langs = sorted(STOPWORDS)
    best = None
    for lang in langs:
        c = F.col(f"hits_{lang}")
        cond = (c > 0)
        for other in langs:
            if other == lang:
                continue
            o = F.col(f"hits_{other}")
            # >= against LATER-alphabet langs, strictly > against
            # EARLIER ones — so the alphabetically-first language wins
            # a tie (first matching WHEN in the cascade)
            cond = cond & (c >= o if lang < other else c > o)
        best = F.when(cond, F.lit(lang)) if best is None else best.when(cond, F.lit(lang))
    return out.withColumn("predicted_lang", best.otherwise(F.lit("und")))


#: Cavnar–Trenkle (1994, "N-Gram-Based Text Categorization") seed
#: corpora: a few plain sentences per language, composed for this repo
#: (public-knowledge everyday prose, no external source). The model is
#: TRAINED at import time by :func:`train_char_ngram_model` — fully
#: deterministic, so the Spark query and the DuckDB oracle replay share
#: the identical profile table.
CT_SAMPLES = {
    "en": (
        "the quick brown fox jumps over the lazy dog and then it runs "
        "back to the old house where the children are playing with "
        "their friends this is what we wanted to see and the weather "
        "was good enough for everything that they had planned for the "
        "day because the sun was shining and there was no rain at all"
    ),
    "fr": (
        "le renard brun saute par dessus le chien paresseux et puis il "
        "retourne vers la vieille maison ou les enfants jouent avec "
        "leurs amis c est ce que nous voulions voir et le temps etait "
        "assez bon pour tout ce qu ils avaient prevu pour la journee "
        "parce que le soleil brillait et il n y avait pas de pluie"
    ),
    "es": (
        "el zorro marron salta sobre el perro perezoso y luego vuelve "
        "a la vieja casa donde los ninos juegan con sus amigos esto es "
        "lo que queriamos ver y el tiempo era bastante bueno para todo "
        "lo que habian planeado para el dia porque el sol brillaba y "
        "no habia lluvia en absoluto durante toda la tarde"
    ),
    "de": (
        "der braune fuchs springt uber den faulen hund und dann lauft "
        "er zuruck zu dem alten haus wo die kinder mit ihren freunden "
        "spielen das ist was wir sehen wollten und das wetter war gut "
        "genug fur alles was sie fur den tag geplant hatten weil die "
        "sonne schien und es gab uberhaupt keinen regen am nachmittag"
    ),
}

#: profile depth K: both the per-language model profile and the
#: per-document profile keep their K most frequent grams (the paper's
#: single knob). Integer out-of-place distances keep the replay exact.
CT_TOP_K = 64
CT_NGRAM_SIZES = (2, 3)

#: langid_ngram embeds the model as literal create_map expressions, so
#: plan/codegen size scales with langs × top_k; above this many distinct
#: (lang, gram) pairs it falls back to the broadcast-join grouped
#: variant (ADVICE r11). The shipped trained model is ~langs × 128
#: pairs — far under the bound.
LANGID_LITERAL_MAX_ROWS = 4096


def ct_normalize_py(s: str) -> str:
    """The shared normalization, driver-side (training + simulators):
    casefold to ascii lowercase, collapse every non-[a-z] run to one
    space. Accented letters become separators — a deliberate loss (the
    [a-z ] alphabet is the cheapest cross-engine-identical one; enough
    signal survives in the grams around them)."""
    import re as _pyre

    return _pyre.sub(r"[^a-z]+", " ", s.lower()).strip()


def char_ngram_profile_py(
    s: str,
    n_sizes: tuple[int, ...] = CT_NGRAM_SIZES,
    top_k: int = CT_TOP_K,
) -> list[tuple[str, int]]:
    """Ranked (gram, rank) profile of one normalized string — the pure
    Python definition both engines replay: count every n-gram for each
    size, rank by (count desc, gram asc), keep the first ``top_k``."""
    counts: dict[str, int] = {}
    for n in n_sizes:
        for i in range(len(s) - n + 1):
            g = s[i : i + n]
            counts[g] = counts.get(g, 0) + 1
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return [(g, r + 1) for r, (g, _c) in enumerate(ranked[:top_k])]


def train_char_ngram_model(
    samples: dict[str, str] | None = None,
    n_sizes: tuple[int, ...] = CT_NGRAM_SIZES,
    top_k: int = CT_TOP_K,
) -> list[tuple[str, str, int]]:
    """(lang, gram, rank) rows for every language profile — the
    broadcastable model table (a few hundred rows for any realistic
    language set; at 100 TB the corpus never moves for the join)."""
    samples = CT_SAMPLES if samples is None else samples
    rows: list[tuple[str, str, int]] = []
    for lang in sorted(samples):
        prof = char_ngram_profile_py(
            ct_normalize_py(samples[lang]), n_sizes, top_k
        )
        rows.extend((lang, g, r) for g, r in prof)
    return rows


def langid_ngram(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model_rows: list[tuple[str, str, int]] | None = None,
    n_sizes: tuple[int, ...] = CT_NGRAM_SIZES,
    top_k: int = CT_TOP_K,
) -> DataFrame:
    """Character-n-gram language ID — Cavnar–Trenkle out-of-place
    distance against per-language rank maps carried in the plan
    (VERDICT r10 item 5; the production-credible upgrade of the
    stopword-marker :func:`langid`, which stays as the pinned
    reference variant).

    Scale shape (r11 optimization): every step of the method is
    per-document — gram counting, the top-``top_k`` (count desc, gram
    asc) profile cut, the per-language out-of-place sum, the
    (distance, lang) argmin — so the WHOLE query is one map-only
    projection: sort the document's gram multiset, run-length encode
    it, rank-sort the runs, score each language against a literal
    ``gram → rank`` map (a few hundred entries total), take the
    struct-min. ZERO Exchange at any scale (the grouped predecessor
    shuffled the ~``sum(n_sizes)``×chars gram explosion twice and the
    per-language scores a third time; it survives as
    :func:`langid_ngram_grouped`, parity-pinned). Everything is
    integer arithmetic — the DuckDB replay is exact, not
    tolerance-banded.

    Ties: profile rank breaks (count desc, gram asc); language argmin
    breaks (distance asc, lang asc). Documents with NO grams after
    normalization (empty / all-symbol text) → 'und' with NULL distance.

    Precondition (same as the oracle replay's GROUP BY): ``id_col``
    identifies one document per row. Rows are scored independently —
    the grouped predecessor instead BLENDED duplicate ids' texts into
    one profile, a shape no caller relied on (ids are unique in every
    spec and fixture).

    Model-size bound (ADVICE r11): the rank maps are LITERAL
    ``create_map`` expressions, so plan and codegen size scale with
    ``langs × top_k``. Above :data:`LANGID_LITERAL_MAX_ROWS` distinct
    (lang, gram) pairs the call auto-falls back to
    :func:`langid_ngram_grouped` (broadcast-join model — same values
    on unique-id inputs, graceful at any model size). Duplicate
    (lang, gram) pairs are deduped first-occurrence-wins before the
    maps are built (the default EXCEPTION mapKeyDedupPolicy would
    otherwise fail at runtime; the shipped trained model carries no
    duplicates, so declared results are unchanged).
    """
    spark = df.sparkSession
    # `is None`, not `or` (review r11): an explicitly-passed EMPTY model
    # must mean "no languages → everything 'und'", not silently swap in
    # the default trained table
    if model_rows is None:
        model_rows = train_char_ngram_model(n_sizes=n_sizes, top_k=top_k)
    if not model_rows:
        return df.select(
            F.col(id_col),
            F.lit("und").alias("predicted_lang"),
            F.lit(None).cast("bigint").alias("oop_distance"),
        )
    by_lang: dict[str, dict[str, int]] = {}
    for lang, g, r in model_rows:
        # first occurrence wins on duplicate (lang, gram) — create_map
        # raises under mapKeyDedupPolicy=EXCEPTION (ADVICE r11)
        by_lang.setdefault(lang, {}).setdefault(g, r)
    if sum(len(v) for v in by_lang.values()) > LANGID_LITERAL_MAX_ROWS:
        deduped = [
            (lang, g, r)
            for lang in sorted(by_lang)
            for g, r in by_lang[lang].items()
        ]
        return langid_ngram_grouped(
            df, id_col, text_col, model_rows=deduped,
            n_sizes=n_sizes, top_k=top_k,
        )
    langs = sorted(by_lang)

    norm = df.select(
        F.col(id_col),
        F.trim(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z]+", " ")
        ).alias("_t"),
    )
    # fan a small-file source out before the CPU-bound per-row scoring
    # (`skew.fan_out_small_scan`): with zero downstream shuffles the
    # whole computation would otherwise run on a single-partition local
    # scan's one task; a corpus-scale input already carries thousands
    # of scan partitions and skips this. The shuffle moves only
    # (id, normalized text) — never the source row.
    from datawarehouse_backup_system_spark.operators.skew import (
        fan_out_small_scan,
    )

    norm = fan_out_small_scan(norm)
    gram_arrays = [
        F.expr(
            f"CASE WHEN length(_t) >= {n} THEN "
            f"transform(sequence(1, length(_t) - {n - 1}), "
            f"i -> substring(_t, i, {n})) ELSE array() END"
        )
        for n in n_sizes
    ]
    # sorted gram multiset → run-length encode → (count, gram) runs.
    # 0-based run-start positions via transform's index (NOT
    # sequence(1, size): sequence(1, 0) counts DOWN and would fabricate
    # positions for empty docs).
    d = norm.select(
        F.col(id_col), F.array_sort(F.concat(*gram_arrays)).alias("_gs")
    )
    runs = (
        "zip_with("
        "  _starts,"
        "  concat(slice(_starts, 2, size(_starts)), array(size(_gs))),"
        "  (s, e) -> struct(e - s AS c, element_at(_gs, s + 1) AS gram)"
        ")"
    )
    d = d.withColumn(
        "_starts",
        F.expr(
            "filter(transform(_gs, (x, i) -> i),"
            " i -> i = 0 OR element_at(_gs, i + 1) != element_at(_gs, i))"
        ),
    ).withColumn(
        "_prof",
        # guard empty docs explicitly: zip_with pads the shorter side
        # with NULL, so the empty-array case would fabricate one
        # (NULL, NULL) run instead of an empty profile
        F.when(F.size("_gs") == 0, F.expr("array()").cast(
            "array<struct<c:int,gram:string>>"
        )).otherwise(
            F.expr(
                "slice(array_sort("
                f"{runs},"
                " (a, b) -> CASE WHEN a.c > b.c THEN -1"
                "                WHEN a.c < b.c THEN 1"
                "                WHEN a.gram < b.gram THEN -1"
                "                WHEN a.gram > b.gram THEN 1"
                "                ELSE 0 END"
                f"), 1, {int(top_k)})"
            )
        ),
    )
    # per-language out-of-place distance: rank_doc is the profile
    # position (1-based transform index), rank_model a literal-map
    # lookup, missing grams cost top_k — identical to the grouped
    # variant's left-join + coalesce
    def _oop_for(rank_map):
        scored = F.transform(
            F.col("_prof"),
            lambda x, i: F.coalesce(
                F.abs((i + F.lit(1)) - F.element_at(rank_map, x["gram"])),
                F.lit(int(top_k)),
            ),
        )
        return F.aggregate(
            scored, F.lit(0).cast("bigint"), lambda acc, v: acc + v
        )

    oop_cols = [
        _oop_for(
            F.create_map(
                *[
                    x
                    for g, r in by_lang[lang].items()
                    for x in (F.lit(g), F.lit(r))
                ]
            )
        ).alias(f"_oop_{lang}")
        for lang in langs
    ]
    d = d.select(F.col(id_col), F.size("_prof").alias("_np"), *oop_cols)
    cands = [
        F.struct(
            F.col(f"_oop_{lang}").alias("oop"), F.lit(lang).alias("lang")
        )
        for lang in langs
    ]
    best = cands[0] if len(cands) == 1 else F.least(*cands)
    return d.select(
        F.col(id_col),
        F.when(F.col("_np") > 0, best["lang"])
        .otherwise(F.lit("und"))
        .alias("predicted_lang"),
        F.when(F.col("_np") > 0, best["oop"]).alias("oop_distance"),
    )


def langid_ngram_grouped(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model_rows: list[tuple[str, str, int]] | None = None,
    n_sizes: tuple[int, ...] = CT_NGRAM_SIZES,
    top_k: int = CT_TOP_K,
) -> DataFrame:
    """The pre-r11-optimization relational formulation of
    :func:`langid_ngram` — gram explode → (doc, gram) groupBy →
    per-doc window cut → broadcast model join → (doc, lang) groupBy →
    argmin window. Kept as the parity reference for the map-only
    rewrite (tests/test_opt_r11.py), and as the auto-fallback target
    when a user model exceeds LANGID_LITERAL_MAX_ROWS; not used by any
    spec or plan on the default model.

    Duplicate-id divergence (ADVICE r11): this variant BLENDS duplicate
    ``id_col`` rows' texts into one profile (groupBy semantics), while
    the map-only rewrite scores each row independently — the two differ
    on non-unique ids. Duplicate (lang, gram) model pairs are summed
    here (join semantics), deduped first-occurrence-wins there.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    # `is None`, not `or` (review r11): an explicitly-passed EMPTY model
    # must mean "no languages → everything 'und'", not silently swap in
    # the default trained table
    if model_rows is None:
        model_rows = train_char_ngram_model(n_sizes=n_sizes, top_k=top_k)
    if not model_rows:
        return df.select(
            F.col(id_col),
            F.lit("und").alias("predicted_lang"),
            F.lit(None).cast("bigint").alias("oop_distance"),
        )
    model = spark.createDataFrame(
        model_rows, "lang string, gram string, rank_model int"
    )
    langs = spark.createDataFrame(
        sorted({(r[0],) for r in model_rows}), "lang string"
    )

    norm = df.select(
        F.col(id_col),
        F.trim(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z]+", " ")
        ).alias("_t"),
    )
    # fan a small-file source out before the CPU-bound gram explosion
    # (`skew.fan_out_small_scan`): a few-MB single-parquet local source
    # otherwise runs the normalize + explode + count partials on ONE
    # task; a corpus-scale input already carries thousands of scan
    # partitions and skips this. The shuffle moves only (id, normalized
    # text) — never the source row.
    from datawarehouse_backup_system_spark.operators.skew import (
        fan_out_small_scan,
    )

    norm = fan_out_small_scan(norm)
    gram_arrays = [
        F.expr(
            f"CASE WHEN length(_t) >= {n} THEN "
            f"transform(sequence(1, length(_t) - {n - 1}), "
            f"i -> substring(_t, i, {n})) ELSE array() END"
        )
        for n in n_sizes
    ]
    grams = norm.select(
        F.col(id_col), F.explode(F.concat(*gram_arrays)).alias("gram")
    )
    counts = grams.groupBy(id_col, "gram").agg(F.count("*").alias("_c"))
    w_doc = Window.partitionBy(id_col).orderBy(
        F.col("_c").desc(), F.col("gram")
    )
    prof = (
        counts.withColumn("rank_doc", F.row_number().over(w_doc))
        .where(F.col("rank_doc") <= top_k)
        .select(id_col, "gram", "rank_doc")
    )
    dist = (
        prof.join(F.broadcast(langs))
        .join(F.broadcast(model), ["lang", "gram"], "left")
        .groupBy(id_col, "lang")
        .agg(
            F.sum(
                F.coalesce(
                    F.abs(F.col("rank_doc") - F.col("rank_model")),
                    F.lit(top_k),
                )
            ).alias("oop")
        )
    )
    w_best = Window.partitionBy(id_col).orderBy("oop", "lang")
    best = (
        dist.withColumn("_rn", F.row_number().over(w_best))
        .where(F.col("_rn") == 1)
        .select(id_col, "lang", "oop")
    )
    return df.select(id_col).join(best, id_col, "left").select(
        id_col,
        F.coalesce(F.col("lang"), F.lit("und")).alias("predicted_lang"),
        F.col("oop").alias("oop_distance"),
    )


#: PII patterns — simple character-class regexes that parse identically
#: under Java regex (Spark) and DuckDB's RE2 dialect.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
LONG_NUMBER_RE = r"[0-9]{9,}"


def pii_scrub(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Mask emails and long digit runs (phone/account-shaped) before a
    corpus feeds training: ``<EMAIL>`` / ``<NUM>`` placeholders, plus
    per-document match counts for audit. Expression-only
    (regexp_replace / regexp_extract_all), linear, codegen'd.
    """
    t = F.col(text_col)
    # stage the email-masked text ONCE (review r10: it fed both the
    # final scrub and the number count as two separate regexp_replace
    # subtrees — a second full regex pass over every document)
    masked = df.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), 0)).alias(
            "n_emails"
        ),
        F.regexp_replace(t, EMAIL_RE, "<EMAIL>").alias("_masked"),
    )
    # count numbers AFTER email masking: an email's digit run must not
    # double-count (the replacement order fixes the semantics)
    return masked.select(
        F.col(id_col),
        F.regexp_replace(F.col("_masked"), LONG_NUMBER_RE, "<NUM>").alias(
            "scrubbed_text"
        ),
        "n_emails",
        F.size(
            F.regexp_extract_all(F.col("_masked"), F.lit(LONG_NUMBER_RE), 0)
        ).alias("n_numbers"),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    capacity: int,
    n_shards: int = 8,
    shard_expr=None,
    order_exprs=None,
) -> DataFrame:
    """Concat-and-chunk sequence packing (GPT-pretraining style): within
    each shard, documents are laid out contiguously in id order and the
    stream is chunked every ``capacity`` tokens; each document reports
    the chunk (``local_bin``) and ``offset`` where it STARTS — long or
    straddling documents simply span into following chunks, no padding
    waste. Sharding by ``id % n_shards`` keeps the order-defining window
    partitioned (no global single-partition sort — raise n_shards with
    the cluster; one sequential stream per shard is the semantics, not a
    bottleneck).

    ``shard_expr`` / ``order_exprs`` override the default assignment
    and layout order so the PLAN can describe a physical layout chosen
    elsewhere — passing :func:`shards.shard_id_expr` and
    :func:`shards.shard_order_exprs` (the md5 assignment and (md5, id)
    order that export_shards writes) makes (shard, local_bin, offset)
    valid coordinates INTO the written files (review r8: the defaults
    described a layout no exporter produced).

    Output: (id, shard, local_bin, offset, n_tokens).
    """
    shard = (
        shard_expr if shard_expr is not None else F.col(id_col) % n_shards
    ).alias("shard")
    order = (
        list(order_exprs) if order_exprs is not None else [F.col(id_col)]
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    staged = df.select(F.col(id_col), shard, F.col(token_count_col).alias("_n"))
    cum_excl = F.sum("_n").over(w) - F.col("_n")
    local_bin = F.floor(cum_excl / capacity).cast("bigint")
    offset = (cum_excl - local_bin * capacity).cast("bigint")
    return staged.select(
        id_col,
        "shard",
        local_bin.alias("local_bin"),
        offset.alias("offset"),
        F.col("_n").alias("n_tokens"),
    )


def repetition_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_tok_ratio: float = 0.2,
    max_dup_trigram_ratio: float = 0.3,
) -> DataFrame:
    """Gopher/C4-style repetition quality signals: the fraction of tokens
    taken by the single most frequent token, and the fraction of word
    trigrams that are duplicates — boilerplate and looped generations
    score high on both. Ratios are int/int at fixed rounding (portable);
    the keep flag applies the standard thresholds.

    Two bounded shuffles: explode→count→max for the token mode (keys are
    (doc, token), uniform), and none for the trigram ratio (array_distinct
    is per-row). The token ARRAY is staged in its own projection first —
    higher-order lambdas are interpreted with no common-subexpression
    elimination, so referencing the raw split() inside them would
    re-split the text once per element. No shuffle is inserted: the
    projection is per-row correct under any input partitioning.
    """
    arr = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    )
    toks = F.col("_toks")
    # zip-slices + trivial concat lambda (see dedup_approx.word_shingles:
    # transform(sequence)+element_at is ~3× slower, interpreted per
    # element); identical trigram array, order preserved.
    grams = F.transform(
        F.arrays_zip(
            F.slice(toks, 1, F.size(toks) - 2).alias("a"),
            F.slice(toks, 2, F.size(toks) - 2).alias("b"),
            F.slice(toks, 3, F.size(toks) - 2).alias("c"),
        ),
        lambda x: F.concat_ws(" ", x["a"], x["b"], x["c"]),
    )
    staged = arr.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.when(F.size(toks) >= 3, F.size(toks) - 2).otherwise(0).alias("n_tri"),
        F.when(F.size(toks) >= 3, F.size(F.array_distinct(grams)))
        .otherwise(0)
        .alias("n_tri_distinct"),
    )
    # explode the tokenize INLINE, not the _toks attribute: an attribute
    # child lets InferFiltersFromGenerate push a size>0 filter below the
    # projection, re-tokenizing every row in the Filter (the
    # word_shingles r12 fix; same rows either way — split() is never
    # empty and explode drops NULL-text rows like the filter did)
    top = (
        df.select(
            F.col(id_col),
            F.explode(tokens(F.col(text_col))).alias("_tok"),
        )
        .groupBy(id_col, "_tok")
        .agg(F.count("*").alias("_n"))
        .groupBy(id_col)
        .agg(F.max("_n").alias("top_tok_n"))
    )
    out = staged.join(top, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("top_tok_n", F.lit(0)).alias("top_tok_n"),
        F.round(
            F.try_divide(F.coalesce("top_tok_n", F.lit(0)) * 1.0, F.col("n_tokens")), 6
        ).alias("top_tok_ratio"),
        F.round(
            F.try_divide(
                (F.col("n_tri") - F.col("n_tri_distinct")) * 1.0, F.col("n_tri")
            ),
            6,
        ).alias("dup_trigram_ratio"),
    )
    keep = (
        (F.coalesce(F.col("top_tok_ratio"), F.lit(0.0)) <= max_tok_ratio)
        & (F.coalesce(F.col("dup_trigram_ratio"), F.lit(0.0))
           <= max_dup_trigram_ratio)
    )
    return out.withColumn("repetition_keep", keep)


def fingerprint(df: DataFrame, id_col: str, text_col: str, window: int = 64) -> DataFrame:
    """Canonical document fingerprint: md5 over (length | head | tail).

    Cheap (no tokenization), collision-resistant for exact and
    head/tail-stable content; the rolling-hash shingle variant is
    dedup_approx.word_shingles + minhash.
    """
    t = F.col(text_col)
    tail_start = F.greatest(F.length(t) - (window - 1), F.lit(1))
    fp = F.md5(
        F.concat_ws(
            "|",
            F.length(t).cast("string"),
            F.substring(t, 1, window),
            t.substr(tail_start, F.lit(window)),
        )
    )
    return df.select(F.col(id_col), fp.alias("fingerprint"))


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int = 2,
    delim: str = "\n",
) -> DataFrame:
    """Cross-document LINE-level boilerplate removal (the CCNet /
    RefinedWeb pass that doc-level dedup cannot express): a line whose
    md5 appears in >= ``min_df`` DISTINCT documents is boilerplate
    (nav bars, cookie banners, license footers) and is dropped from
    every document; surviving lines are reassembled in original order.

    Output: (id, n_lines, n_kept, clean_text) — one row per input
    document, ``clean_text`` empty when every line was boilerplate.

    Scale shape: posexplode → ONE groupBy on line-hash (doc-distinct
    count, partial-aggregated) → anti-join (the boilerplate side is the
    frequent-line set — tiny by Zipf, AQE broadcasts it) → ONE groupBy
    on doc id to reassemble. No global sort; within-doc order is
    restored by array_sort over (pos, line) structs, per row. At 100 TB
    the line-hash agg is the only corpus-wide shuffle and its keys are
    near-unique, so it partial-aggregates to almost nothing.

    ``delim`` is a LITERAL string on both the split and the rejoin
    (review r7: F.split treats its pattern as a Java regex, so a
    metacharacter delimiter like '|' silently split on every character
    while rejoining with the literal — and diverged from the oracle's
    literal string_split). The split pattern is \\Q...\\E-quoted.
    """
    dq = f"\\Q{delim}\\E"  # Java Pattern.quote: delim is literal
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), dq)).alias("pos", "line"),
    ).withColumn("lh", F.md5(F.col("line")))
    # empty/whitespace-only lines are EXEMPT from the document-frequency
    # rule (review r10): blank lines are paragraph separators, and the
    # md5('') of consecutive/trailing delimiters appears in nearly every
    # document — the old rule silently merged paragraphs corpus-wide.
    # CCNet-style passes exempt trivial lines for exactly this reason.
    boiler = (
        lines.where(F.trim(F.col("line")) != "")
        .groupBy("lh")
        .agg(F.count_distinct(F.col(id_col)).alias("line_df"))
        .where(F.col("line_df") >= min_df)
        .select("lh")
    )
    kept = lines.join(boiler, "lh", "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            delim,
        ).alias("clean_text"),
    )
    totals = df.select(
        F.col(id_col), F.size(F.split(F.col(text_col), dq)).alias("n_lines")
    )
    return totals.join(reassembled, id_col, "left").select(
        id_col,
        "n_lines",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def vocab_topk(
    df: DataFrame, text_col: str, k: int = 25, include_bigrams: bool = True
) -> DataFrame:
    """Corpus-wide vocabulary profile: top-k terms per n-gram order
    ('uni', 'bi') by frequency — the counting pass a BPE/vocab build or
    a corpus health check starts from.

    Output: (kind, term, cnt, rank), rank 1..k per kind, ties broken by
    term so the cut is total and engine-portable.

    ONE groupBy on (kind, term) with map-side partial aggregation (term
    frequencies are Zipfian — the hot keys combine before the exchange),
    then a per-kind window over the surviving counts. Unigram and bigram
    structs are concatenated per row and exploded ONCE — a union of two
    selects would re-scan and re-tokenize the whole corpus per branch
    (the measured union-double-eval lesson).
    """
    arr = df.select(tokens(F.col(text_col)).alias("t"))
    toks = F.col("t")
    structs = F.transform(
        toks,
        lambda x: F.struct(F.lit("uni").alias("kind"), x.alias("term")),
    )
    if include_bigrams:
        grams = F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(2), F.size(toks)),
                lambda i: F.concat_ws(
                    " ", F.element_at(toks, i - 1), F.element_at(toks, i)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        structs = F.concat(
            structs,
            F.transform(
                grams,
                lambda g: F.struct(F.lit("bi").alias("kind"), g.alias("term")),
            ),
        )
    terms = arr.select(F.explode(structs).alias("s")).select(
        "s.kind", "s.term"
    )
    counts = terms.groupBy("kind", "term").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("kind").orderBy(F.desc("cnt"), F.asc("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("kind", "term", "cnt", "rank")
    )


def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str, top_n: int = 3
) -> DataFrame:
    """Per-document top-N TF-IDF terms — the classic relevance score,
    used in curation for topic tagging and near-duplicate triage.

    score = (tf_count / doc_tokens) * ln(N_docs / doc_freq), rounded at
    6 dp. Both factors are exact-int divisions evaluated in double with
    the SAME expression shape the oracle uses, so the doubles (and the
    tie order) are bit-identical cross-engine; rank ties break on term.

    Shuffles: (doc, term) count groupBy, term doc-freq groupBy (both
    partial-aggregated), one broadcast of the corpus-size scalar, one
    hash join term→doc_freq, and the per-doc ranking window. The
    doc-freq side is |vocab| rows — small relative to the corpus, and
    the join key is the term itself so skew follows Zipf (AQE
    skew-split handles the head terms).
    """
    tf = (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf_count"))
    )
    doc_len = tf.groupBy(id_col).agg(F.sum("tf_count").alias("doc_tokens"))
    # tf is already one row per (doc, term): a plain partial-combining
    # count equals count_distinct(id) without the distinct-agg expand
    doc_freq = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("doc_freq")
    )
    n_docs = df.select(F.count_distinct(F.col(id_col)).alias("n_docs"))
    scored = (
        tf.join(doc_len, id_col)
        .join(doc_freq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            (F.col("tf_count") * 1.0 / F.col("doc_tokens"))
            * F.log(F.col("n_docs") * 1.0 / F.col("doc_freq")),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_n)
        .select(
            id_col,
            "term",
            F.round(F.col("score"), 6).alias("tfidf"),
            "rank",
        )
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Sliding-window document chunking (RAG / pretraining example
    prep): token windows of ``chunk_tokens`` advancing by
    ``chunk_tokens - overlap``, so consecutive chunks share ``overlap``
    tokens and no token is dropped. A document shorter than one chunk
    yields exactly one chunk.

    Output: (id, chunk_id, n_chunk_tokens, chunk_text), chunk_id dense
    from 0 per document.

    Expression-only (staged token array → transform/slice → explode):
    linear per-row work, zero shuffles — at 100 TB chunking happens in
    the scan projection and the ×(1 + overlap/stride) token replication
    is the storage cost you chose, not a join blowup.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    arr = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    )
    t = F.col("_toks")
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.size(t) - F.lit(overlap)) / F.lit(float(stride))).cast("int"),
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_id"),
            F.array_join(
                F.slice(t, i * stride + 1, chunk_tokens), " "
            ).alias("chunk_text"),
        ),
    )
    exploded = arr.select(F.col(id_col), F.explode(chunks).alias("c"))
    return exploded.select(
        id_col,
        F.col("c.chunk_id").alias("chunk_id"),
        F.size(F.split(F.col("c.chunk_text"), " ")).alias("n_chunk_tokens"),
        F.col("c.chunk_text").alias("chunk_text"),
    )


def token_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (bits).

    H(doc) = −Σ_t p(t)·log2 p(t) over whitespace tokens — the standard
    lexical-diversity quality signal: near-zero entropy flags degenerate
    boilerplate ("spam spam spam…"), which length/punctuation ratios
    miss. Output: (id_col, n_tokens, n_distinct, entropy) with entropy
    rounded to 6 digits (the per-doc sum has ≤ vocabulary terms, so
    cross-engine FP drift is far below the rounding grain).

    Two bounded aggregations, both partial-combining: (doc, token) counts
    then the per-doc entropy fold. No UDFs, no driver loops; at 100 TB
    this is a linear pass whose shuffle keys are (doc_id, token) then
    doc_id — skew-free because the first key includes the token.

    Documents with NO tokens (empty/whitespace-only text) yield NO
    output row — this is the contract the t19 oracle hash pins; a
    caller building a full-corpus report should left-join this result
    onto the id set and treat NULL entropy as n_tokens = 0.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_tok")
    ).where(F.col("_tok") != "")
    cnt = toks.groupBy(id_col, "_tok").agg(F.count(F.lit(1)).alias("_c"))
    return (
        cnt.groupBy(id_col)
        .agg(
            F.sum("_c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(F.col("_c") * F.log2(F.col("_c"))).alias("_clogc"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_distinct",
            F.round(
                F.log2(F.col("n_tokens"))
                - F.col("_clogc") / F.col("n_tokens"),
                6,
            ).alias("entropy"),
        )
    )


#: Latin-1/Latin-Extended accent fold map for normalize_text — the cheap
#: expression-level subset (full Unicode NFKC needs ICU, deliberately not
#: pulled in; the mapping covers the languages langid handles)
ACCENT_SRC = "áàâäãåéèêëíìîïóòôöõøúùûüñçýÁÀÂÄÃÅÉÈÊËÍÌÎÏÓÒÔÖÕØÚÙÛÜÑÇÝ"
ACCENT_DST = "aaaaaaeeeeiiiioooooouuuuncyAAAAAAEEEEIIIIOOOOOOUUUUNCY"
assert len(ACCENT_SRC) == len(ACCENT_DST)  # translate deletes on mismatch


def normalize_text(
    col: Column, lowercase: bool = True, fold_accents: bool = True
) -> Column:
    """Canonical text cleanup: control chars → space, whitespace runs
    collapsed, trimmed; optional casefold and Latin accent folding.

    The first pass every web-corpus pipeline runs before hashing/dedup —
    two byte-identical documents that differ only in \\r\\n vs \\n or
    NBSP-ish control garbage must dedup together. All expression-level
    (regexp_replace/translate/lower): zero shuffles, codegen'd, and
    portable — the DuckDB replay differs only in the explicit 'g' flag
    (Spark's regexp_replace is global by default).
    """
    out = F.regexp_replace(col, r"[\x00-\x1F\x7F]", " ")
    # \s is dialect-safe HERE (unlike tokens()/n_nonspace): the
    # control-char pass above already mapped every character the Java
    # and RE2 \s definitions disagree on (all of \t\n\x0B\f\r are in
    # \x00-\x1F) to a space, so both engines' \s+ only ever sees
    # literal spaces (r11 session review)
    out = F.trim(F.regexp_replace(out, r"\s+", " "))
    if fold_accents:
        out = F.translate(out, ACCENT_SRC, ACCENT_DST)
    if lowercase:
        out = F.lower(out)
    return out


def dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Cross-document duplicated n-token span statistics.

    Public method lineage: "Deduplicating Training Data Makes Language
    Models Better" (Lee et al., 2022) removes exact substrings of ~50
    tokens repeated across a corpus. A full suffix array is not a Spark
    shape; the standard distributed approximation is rolling n-token
    spans (stride 1): a span repeated across documents is exactly an
    n-token duplicated substring, and any duplicated substring of
    length ≥ n contains one. Per document this reports:

    - ``n_spans``        — total n-token spans (0 for docs shorter than n)
    - ``n_dup_spans``    — spans whose text also occurs in ANOTHER doc
    - ``dup_frac``       — n_dup_spans / n_spans (0.0 when no spans),
                           rounded to 6 places for cross-engine hashing

    Shuffle inventory (100 TB): explode to one row per span (linear, no
    pairs), ONE groupBy on the span hash counting distinct docs
    (map-side combined), ONE equi-join back on the hash, final per-doc
    agg. Only md5 span hashes shuffle, never span text; an md5 collision
    across different span texts is the accepted (2^-56-scale) error, the
    same trade every shingle op in this repo makes.
    """
    from datawarehouse_backup_system_spark.operators.skew import (
        fan_out_small_scan,
    )

    # Span hashes are built INSIDE an array expression and only the
    # BIGINT hashes are exploded — exploding positions while carrying
    # the token array would copy the O(L) array into each of the L span
    # rows (O(L²) bytes per document at scale). fan_out_small_scan: the
    # tokenize + L×md5 per doc is the CPU-dominant pre-shuffle stage
    # (conditional — no-op on corpus-scale inputs).
    toks = fan_out_small_scan(
        df.select(F.col(id_col), F.col(text_col))
    ).select(
        F.col(id_col),
        tokens(F.col(text_col)).alias("_t"),
    )
    # The guard lives INSIDE the expression (when/otherwise), not in a
    # .where() — see _span_hash_expr. The span-hash array is exploded
    # INLINE (r12, the word_shingles fix): aliasing it first made the
    # generator child an attribute, so InferFiltersFromGenerate's
    # size>0 filter was pushed below the projection and every span was
    # md5'd TWICE per row (t21 measured 1.08 → 2.02 s at sf0.1).
    spans = toks.select(
        F.col(id_col), F.explode(_span_hash_expr(F.col("_t"), n)).alias("span_h")
    )
    # Single derivation of `spans`: collapse to one row per (span, doc)
    # with its in-doc multiplicity, count the span's distinct docs with a
    # window over that compact set, then aggregate per doc. A span is
    # "duplicated" iff seen in ≥2 DISTINCT docs; multiplicity is kept so
    # n_dup_spans counts every occurrence. (The earlier formulation
    # re-derived the full span explode three times — totals, dup-set,
    # rejoin — tripling the dominant scan+hash cost at scale.)
    per_span_doc = spans.groupBy("span_h", id_col).agg(
        F.count(F.lit(1)).alias("_occ")
    )
    w = Window.partitionBy("span_h")
    per_doc = (
        per_span_doc.withColumn("_docs", F.count(F.lit(1)).over(w))
        .groupBy(id_col)
        .agg(
            F.sum("_occ").alias("n_spans"),
            F.sum(F.when(F.col("_docs") >= 2, F.col("_occ")).otherwise(0)).alias(
                "n_dup_spans"
            ),
        )
    )
    base = df.select(F.col(id_col)).distinct()
    return (
        base.join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce(F.col("n_dup_spans"), F.lit(0))
            .cast("bigint")
            .alias("n_dup_spans"),
            F.round(
                F.when(
                    F.coalesce(F.col("n_spans"), F.lit(0)) > 0,
                    F.coalesce(F.col("n_dup_spans"), F.lit(0))
                    / F.col("n_spans"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_frac"),
        )
    )


def _span_hash_expr(tok_arr: Column, n: int) -> Column:
    """Rolling n-token span hashes of a token array, as one TOTAL
    expression (empty array below n tokens). The guard must live INSIDE
    the expression (when/otherwise), not in a .where(): FilterExec
    hoists inferred isnotnull(...) constraints ahead of the size
    predicate, which would evaluate the transform on short docs where
    sequence(0, size-n) turns negative and slice throws. Shared by
    dup_spans and remove_dup_spans so the span recipe can never fork."""
    return (
        F.when(
            F.size(tok_arr) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(tok_arr) - n),
                lambda i: md5_prefix_long(
                    F.concat_ws(" ", F.slice(tok_arr, i + 1, n))
                ),
            ),
        )
        .otherwise(F.array().cast("array<bigint>"))
    )


def remove_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Cross-document duplicated n-token span REMOVAL (the fix to the
    problem :func:`dup_spans` measures — VERDICT r9 item 5).

    Public method lineage: "Deduplicating Training Data Makes Language
    Models Better" (Lee et al., 2022) CUTS duplicated substrings from
    the corpus, keeping one occurrence. The distributed approximation
    here works on rolling n-token spans (stride 1, the dup_spans
    shape): a span held by ≥2 DISTINCT documents keeps the copy in its
    CANONICAL holder (MIN id — the repo's dedup convention) and is cut
    from every other holder; a document's kept tokens are re-joined in
    original order. Canonicality is doc-level per span: the canonical
    doc keeps all its occurrences of that span, non-canonical docs drop
    all of theirs. Overlapping cut spans union naturally at the token
    level. In-doc-only repeats (one holder) are NOT cut — cross-doc
    semantics, matching dup_spans' "≥2 distinct docs".

    CANONICAL PROTECTION (review r10): a token covered by any
    duplicated span for which THIS doc is the canonical holder is
    IMMUNE to cuts from overlapping non-canonical spans. Without it,
    overlapping duplicated spans with different canonical docs could
    destroy every intact copy of a substring corpus-wide (doc A canon
    for S, doc B canon for overlapping S′: cutting S from B can bite
    into B's only protected copy of S′). With protection, the
    canonical occurrence's tokens are contiguous and all kept, so at
    least one intact copy of every duplicated span survives — the Lee
    et al. guarantee. The cost of protection is that a protected
    non-canonical overlap survives partially; removal is a superset
    of zero and a subset of the unprotected cut, never content-lossy.

    Output per input row: ``(id, n_tokens, n_removed, text_clean)``
    where text_clean is whitespace-NORMALIZED (tokens re-joined with
    single spaces — the same canonicalization every span op applies).

    Shuffle inventory (100 TB): explode to one row per span hash
    (linear, never pairs), ONE groupBy(span hash) computing (distinct
    docs, min doc) map-side-combined, ONE join back on the hash, ONE
    per-doc collect_set of cut START OFFSETS (bounded by the doc's own
    span count, never corpus-sized), then a single expression-level
    array filter rebuilds the text — no per-token shuffle, no window.
    The per-token coverage test is O(tokens × cut-starts) inside the
    row; for document-scale rows that is the cheap trade against
    shuffling one row per token. Only 56-bit md5 span hashes shuffle
    (`hashing.md5_prefix_long` — the cross-engine recipe), never span
    text; a cross-text collision is the accepted 2^-56-scale error.
    """
    from datawarehouse_backup_system_spark.operators.skew import (
        fan_out_small_scan,
    )

    # fan_out_small_scan: same rationale as dup_spans (the tokenize +
    # per-span md5 build is the CPU-dominant pre-shuffle stage)
    toks = fan_out_small_scan(
        df.select(F.col(id_col), F.col(text_col))
    ).select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
    # span-hash array built by the shared _span_hash_expr (total
    # expression — predicate-reorder safety) and POSEXPLODED INLINE
    # (r12, the word_shingles fix: an attribute child would let
    # InferFiltersFromGenerate push a size>0 filter below the
    # projection, hashing every span twice per row)
    spans = toks.select(
        F.col(id_col),
        F.posexplode(_span_hash_expr(F.col("_t"), n)).alias(
            "_start", "span_h"
        ),
    )
    per_span = spans.groupBy("span_h").agg(
        F.countDistinct(F.col(id_col)).alias("_docs"),
        F.min(F.col(id_col)).alias("_canon"),
    )
    marks = spans.join(per_span, "span_h").where(F.col("_docs") >= 2)
    # per doc: cut-span starts (non-canonical holds) and protect-span
    # starts (canonical holds) — both bounded by the doc's own span
    # count, one groupBy over the same marked frame
    start_sets = marks.groupBy(id_col).agg(
        F.collect_set(
            F.when(F.col(id_col) != F.col("_canon"), F.col("_start"))
        ).alias("_cuts"),
        F.collect_set(
            F.when(F.col(id_col) == F.col("_canon"), F.col("_start"))
        ).alias("_keeps"),
    )
    empty = F.array().cast("array<int>")
    with_cuts = toks.join(start_sets, id_col, "left").select(
        F.col(id_col),
        "_t",
        F.coalesce(F.col("_cuts"), empty).alias("_cuts"),
        F.coalesce(F.col("_keeps"), empty).alias("_keeps"),
    )

    def _covers(arr: str):
        return lambda p: F.exists(
            F.col(arr), lambda s: (s <= p) & (p < s + F.lit(n))
        )

    # token at 0-based position p survives iff protected by a canonical
    # span, or covered by no cut span — array filter with index,
    # order-preserving
    kept = F.filter(
        F.col("_t"),
        lambda tok, p: _covers("_keeps")(p) | ~_covers("_cuts")(p),
    )
    return with_cuts.select(
        F.col(id_col),
        F.size("_t").cast("bigint").alias("n_tokens"),
        (F.size("_t") - F.size(kept)).cast("bigint").alias("n_removed"),
        F.concat_ws(" ", kept).alias("text_clean"),
    )
