"""Text-analysis operators over document tables.

SURVEY.md §2.9 #54-55 plus the driver-mandated LLM-pipeline additions:
tokenization, term stats, quality scoring, language id, BPE-ish token
counting, winnowing fingerprints. Everything is built from JVM-side
expressions (split/explode/regexp/higher-order) — no Python in the
hot path, so the scan parallelism is the only limit.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ColumnOrName = Column | str

#: Per-language stopword lists (~100 words each) for the stopword-
#: overlap language heuristic — standard public function-word lists
#: (articles, pronouns, prepositions, conjunctions, auxiliaries), the
#: same inventory every classic IR stoplist (Snowball-style) carries.
#: q_lang_id's DuckDB oracle is GENERATED from this dict, so the two
#: sides cannot drift; tests pin accuracy on real sentences.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": [
        "the", "a", "an", "of", "and", "to", "in", "is", "it", "for",
        "on", "with", "as", "was", "at", "by", "that", "this", "these",
        "those", "be", "are", "were", "been", "being", "have", "has",
        "had", "do", "does", "did", "will", "would", "can", "could",
        "shall", "should", "may", "might", "must", "not", "no", "nor",
        "but", "or", "if", "then", "else", "when", "while", "where",
        "why", "how", "what", "which", "who", "whom", "whose", "i",
        "you", "he", "she", "we", "they", "me", "him", "her", "us",
        "them", "my", "your", "his", "its", "our", "their", "mine",
        "yours", "hers", "ours", "theirs", "from", "into", "onto",
        "over", "under", "again", "further", "once", "here", "there",
        "all", "any", "both", "each", "few", "more", "most", "other",
        "some", "such", "only", "own", "same", "so", "than", "too",
        "very", "just", "about", "between", "through", "during",
    ],
    "de": [
        "der", "die", "das", "und", "ist", "ein", "zu", "den", "mit",
        "von", "nicht", "sie", "sich", "auf", "für", "als", "auch",
        "es", "an", "werden", "aus", "er", "hat", "dass", "war", "wie",
        "im", "einer", "um", "am", "sind", "noch", "nach", "bei",
        "einem", "über", "einen", "so", "zum", "haben", "nur", "oder",
        "aber", "vor", "zur", "bis", "mehr", "durch", "man", "sein",
        "wurde", "sei", "wir", "ich", "du", "ihr", "mich", "mir",
        "dich", "dir", "uns", "euch", "ihm", "ihn", "ihnen", "dem",
        "des", "eines", "eine", "keine", "kein", "wenn", "dann",
        "denn", "weil", "ob", "doch", "schon", "sehr", "hier", "da",
        "dort", "heute", "immer", "wieder", "alle", "alles", "etwas",
        "nichts", "viel", "viele", "wenig", "andere", "anderen",
        "jeder", "jede", "jedes", "diese", "dieser", "dieses", "was",
        "wer", "wo", "kann", "muss", "soll",
    ],
    "es": [
        "el", "la", "de", "que", "y", "en", "un", "es", "los", "por",
        "se", "no", "con", "una", "su", "para", "al", "lo", "como",
        "más", "pero", "sus", "le", "ya", "o", "este", "sí", "porque",
        "esta", "entre", "cuando", "muy", "sin", "sobre", "también",
        "me", "hasta", "hay", "donde", "quien", "desde", "todo", "nos",
        "durante", "todos", "uno", "les", "ni", "contra", "otros",
        "ese", "eso", "ante", "ellos", "e", "esto", "mí", "antes",
        "algunos", "qué", "unos", "yo", "otro", "otras", "otra", "él",
        "tanto", "esa", "estos", "mucho", "quienes", "nada", "muchos",
        "cual", "poco", "ella", "estar", "estas", "algunas", "algo",
        "nosotros", "mi", "mis", "tú", "te", "ti", "tu", "tus",
        "ellas", "ser", "son", "era", "eran", "fue", "han", "ha",
        "está", "están", "estaba", "hace", "cada", "vez",
    ],
    "fr": [
        "le", "la", "de", "et", "un", "les", "des", "est", "en",
        "que", "une", "du", "dans", "il", "qui", "au", "pour", "pas",
        "sur", "ne", "se", "ce", "plus", "par", "je", "avec", "tout",
        "son", "sont", "ou", "mais", "nous", "comme", "aux", "ses",
        "elle", "sa", "cette", "être", "ont", "était", "ils", "aussi",
        "deux", "même", "fait", "leur", "bien", "où", "sans", "peut",
        "tous", "après", "avait", "si", "lui", "entre", "dont",
        "encore", "ces", "donc", "tu", "vous", "on", "mon", "ma",
        "mes", "ton", "ta", "tes", "notre", "votre", "leurs", "moi",
        "toi", "eux", "celui", "celle", "ceux", "celles", "quand",
        "quel", "quelle", "quels", "quelles", "toute", "toutes",
        "autre", "autres", "avant", "trop", "très", "peu", "ici",
        "alors", "ainsi", "car", "sous", "été", "avoir",
    ],
    "zh": [
        "的", "了", "是", "在", "我", "有", "和", "就", "不", "人",
        "都", "一", "一个", "上", "也", "很", "到", "说", "要", "去",
        "你", "会", "着", "没有", "看", "好", "自己", "这", "那",
        "他", "她", "它", "我们", "你们", "他们", "这个", "那个",
        "什么", "怎么", "为什么", "因为", "所以", "但是", "可是",
        "如果", "虽然", "而且", "并且", "或者", "还是", "已经",
        "正在", "将要", "可以", "能够", "应该", "必须", "不能",
        "没", "被", "把", "从", "向", "对", "给", "跟", "让", "比",
        "地", "得", "过", "吗", "呢", "吧", "啊", "哦", "嗯", "与",
        "及", "等", "各", "每", "些", "这些", "那些", "多", "少",
        "大", "小", "里", "外", "中", "下", "前", "后", "时候",
        "现在", "今天", "明天",
    ],
}

#: BPE-ish tokenizer regex: runs of word chars, runs of digits already
#: inside \w, else single non-space symbols. Agreed-on syntax between
#: Java regex (Spark) and RE2 (DuckDB) — used by the token-count oracle.
BPE_ISH_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def tokens(df: DataFrame, text_col: str = "text", out_col: str = "word") -> DataFrame:
    """One row per whitespace token (SAS: SCAN loop + OUTPUT)."""
    return df.select(F.explode(F.split(F.col(text_col), " ")).alias(out_col))


def term_counts(
    df: DataFrame, text_col: str = "text", word_col: str = "word", count_col: str = "c"
) -> DataFrame:
    """Corpus-wide term frequencies (map-side partial aggregation
    makes this a small shuffle even on huge corpora)."""
    return tokens(df, text_col, word_col).groupBy(word_col).agg(
        F.count(F.lit(1)).alias(count_col)
    )


def top_terms(
    df: DataFrame,
    n: int,
    text_col: str = "text",
    word_col: str = "word",
    count_col: str = "c",
) -> DataFrame:
    """Top-n terms by frequency, tiebroken by word for determinism.
    Executes as TakeOrderedAndProject (no global sort)."""
    return (
        term_counts(df, text_col, word_col, count_col)
        .orderBy(F.desc(count_col), F.asc(word_col))
        .limit(n)
    )


def quality_columns(
    text: Column, stopwords: Sequence[str] = ("the", "a", "of", "and", "to")
) -> dict[str, Column]:
    """Per-document quality metrics (length, token stats, stopword
    ratio, lexical diversity) as named column expressions."""
    toks = F.split(text, " ")
    n_tok = F.size(toks)
    sw = F.array([F.lit(w) for w in stopwords])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return {
        "n_chars": F.length(text).cast("long"),
        "n_tokens": n_tok.cast("long"),
        "avg_token_len": (F.length(F.regexp_replace(text, " ", "")) / n_tok),
        "stopword_ratio": n_stop / n_tok,
        "type_token_ratio": F.size(F.array_distinct(toks)) / n_tok,
    }


def word_ngrams(text: Column, n: int) -> Column:
    """Word n-grams as an array of space-joined strings (ALL
    occurrences, duplicates preserved — repetition metrics need the
    multiset, unlike shingle_array's distinct sets). Docs shorter
    than n tokens yield an empty array.

    PERF NOTE: this convenience form inlines ``split(text)`` into the
    gram build. Since the r17 token_ngrams rewrite (arrays_zip of n
    native slices) that costs n+2 evaluations of the split per row —
    down from once PER GRAM (O(tokens^2) per row) in the old
    per-element-lambda form, but still n+2x the staged cost. For hot
    paths, stage the split as a named column and call
    :func:`token_ngrams` on it."""
    return token_ngrams(F.split(text, " "), n)


def token_ngrams(toks: Column, n: int) -> Column:
    """Word n-grams from an ALREADY-SPLIT token array column. Pass a
    staged (named) column so the tokenization is evaluated once per
    row — the per-gram work is then a struct-field concat.

    r17 form (guide §4.1, the exploded_token_ngrams shape kept in
    array form): ``arrays_zip`` of ``n`` native ``slice`` views builds
    every gram's tokens in codegen — the old per-element
    ``array_join(slice(toks, i, n))`` lambda re-sliced (and, for
    un-staged callers like word_ngrams, re-SPLIT) the token array
    once PER GRAM, O(tokens * n) interpreted work per row. The
    remaining ``transform`` lambda only concats the n struct fields.
    Same strings: element i zips (toks[i+1], ..., toks[i+n]) exactly
    as slice(toks, i+1, n) collected them, and concat_ws/array_join
    agree on null-free split output. Measured at sf0.1 (noop):
    q_ngram_contamination 2.13 s -> see history/OPTIMIZATION_r17.md."""
    n_grams = F.size(toks) - (n - 1)
    # guard: short docs need an explicit empty-array branch (and the
    # slices below would see a negative length)
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, n_grams) for i in range(n)])
    # arrays_zip of unnamed slices labels fields positionally "0".."n-1"
    return F.when(
        n_grams >= 1,
        F.transform(
            zipped,
            lambda z: F.concat_ws(
                " ", *[z.getField(str(i)) for i in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def exploded_token_ngrams(
    toks: Column, n: int, *, sep: str = " "
) -> tuple[Column, Column]:
    """EXPLODE-form word n-grams: returns ``(explode_col, gram_expr)``
    — explode ``explode_col`` (aliased, say, ``z``), then project
    ``gram_expr`` over the exploded rows to get the gram string.

    Same strings as :func:`token_ngrams`, different execution path
    (r16, guide §4.1): token_ngrams builds each gram INSIDE an
    interpreted ``transform`` lambda (higher-order functions fall out
    of whole-stage codegen), while this form zips ``n`` plain
    ``slice`` views into an array of structs — all native, codegen'd
    expressions — and defers the string concat to AFTER the explode,
    where ``concat_ws`` runs in codegen over flat rows. Measured on
    q_ngram_diversity at sf0.1: noop 1.82 s -> 0.70 s (-62%),
    hash-identical output.

    Only callers that explode immediately can use this; gram arrays
    consumed as arrays (array_distinct counts etc.) keep
    token_ngrams.
    """
    n_grams = F.size(toks) - (n - 1)
    zipped = F.when(
        n_grams >= 1,
        F.arrays_zip(*[F.slice(toks, i + 1, n_grams) for i in range(n)]),
    ).otherwise(F.array())
    # arrays_zip of unnamed slices labels fields positionally "0".."n-1"
    gram = lambda z: F.concat_ws(  # noqa: E731
        sep, *[F.col(z).getField(str(i)) for i in range(n)]
    )
    return zipped, gram


def duplicate_ngram_fraction(text: Column, n: int) -> Column:
    """Fraction of n-gram OCCURRENCES that are repeats of an earlier
    occurrence — the Gopher-style repetition quality rule (Rae et al.
    2021 §A1.1 'repetition' filters; also used by Dolma/RefinedWeb):
    1 - distinct/total. 0.0 for docs with no n-grams (shorter than n
    tokens) — a short doc is not 'repetitive'.

    The TOTAL is pure size arithmetic (tokens - n + 1), so the gram
    array is constructed exactly ONCE (inside array_distinct) —
    interpreted HOFs get no common-subexpression elimination, so a
    second word_ngrams reference would double the per-row cost.
    PERF NOTE for composers: if you reference THIS expression more
    than once in a single projection (e.g. a fraction and a
    threshold flag), stage it as a named column first — see
    q_repetition_ratio, where staging cut 10.1 s -> 0.56 s at sf0.1
    (18x) by evaluating each gram build once per row."""
    toks = F.split(text, " ")
    total = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    frac = 1 - F.size(F.array_distinct(word_ngrams(text, n))) / total
    return F.when(total > 0, frac).otherwise(F.lit(0.0))


def token_count_bpe_ish(text: Column, pattern: str = BPE_ISH_PATTERN) -> Column:
    """Approximate LLM token count via the BPE-ish regex."""
    return F.regexp_count(text, F.lit(pattern)).cast("long")


def lang_id(text: Column, stopwords: Mapping[str, list[str]] = LANG_STOPWORDS) -> Column:
    """Stopword-overlap language classifier: argmax over languages of
    the fraction of tokens in that language's stopword list. Ties
    break toward the lexicographically larger code (struct-greatest),
    'und' (undetermined) when no stopword hits at all."""
    toks = F.split(text, " ")
    n_tok = F.size(toks)
    scored = [
        F.struct(
            (
                F.size(
                    F.filter(
                        toks,
                        lambda t: F.array_contains(F.array([F.lit(w) for w in ws]), t),
                    )
                )
                / n_tok
            ).alias("score"),
            F.lit(lang).alias("lang"),
        )
        for lang, ws in stopwords.items()
    ]
    best = F.greatest(*scored)
    return F.when(best.getField("score") > 0, best.getField("lang")).otherwise(
        F.lit("und")
    )


def winnow_fingerprint_portable(
    text: Column, shingle_n: int = 3, keep_mod: int = 8
) -> Column:
    """Engine-portable twin of winnow_fingerprint: shingle hashes are
    the top 60 bits (15 hex chars) of sha256 instead of xxhash64, and
    the selected-set hash is sha256 over the comma-joined decimal
    values — every step reproducible in ANSI-ish SQL, so a DuckDB
    oracle can verify the whole fingerprint bit-for-bit. Production
    pipelines should prefer winnow_fingerprint (xxhash64 is ~10x
    cheaper per shingle); selection behavior is identical in shape."""
    from sas_etl_spark.operators.minhash import shingle_array

    sh = shingle_array(text, shingle_n)
    hashes = F.transform(
        sh, lambda s: F.conv(F.substring(F.sha2(s, 256), 1, 15), 16, 10).cast("long")
    )
    selected = F.array_sort(
        F.filter(hashes, lambda h: F.pmod(h, F.lit(keep_mod)) == 0)
    )
    return F.sha2(
        F.array_join(F.transform(selected, lambda h: h.cast("string")), ","), 256
    )


def winnow_fingerprint(
    text: Column, shingle_n: int = 3, keep_mod: int = 8
) -> Column:
    """Winnowing-style document fingerprint: 64-bit hash of the sorted
    set of shingle hashes that fall in the 1/keep_mod selection class.
    Robust to local edits outside selected shingles; deterministic."""
    from sas_etl_spark.operators.minhash import shingle_array

    sh = shingle_array(text, shingle_n)
    hashes = F.transform(sh, lambda s: F.xxhash64(s))
    selected = F.array_sort(
        F.filter(hashes, lambda h: F.pmod(h, F.lit(keep_mod)) == 0)
    )
    return F.xxhash64(selected)


def duplicated_spans(
    docs: DataFrame,
    k: int = 8,
    doc_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal exactly-duplicated token spans of length >= k — the
    sliding-window exact-substring detector (Lee et al. 2022 §3,
    "ExactSubstr") in a shuffle-mergeable form, no suffix arrays
    (round 16, VERDICT r15 item 5). The fixed-width PARTITION lanes
    (q_chunk_dedup / q_span_dedup) only see duplicates that happen to
    align on the width-6 grid; a copied paragraph starting at offset
    3 in one doc and 0 in another shares NO grid cell and is missed.
    Sliding k-grams are offset-invariant: every duplicated span of
    length L >= k covers exactly L - k + 1 duplicated k-gram
    positions, CONSECUTIVE in each document, so stitching consecutive
    duplicated positions (gaps-and-islands) recovers each maximal
    span and its exact length L = run + k - 1.

    "Duplicated" means the k-gram occurs at more than one (doc,
    position) slot corpus-wide — within-doc self-repetition counts,
    matching Lee et al.

    Returns (doc_col, start_pos, n_tokens): 0-based token offset and
    exact token length of each maximal duplicated span.

    Scale: k-gram fan-out is row-local (explode over the doc's own
    token array; only the 32-byte sha256 digest leaves the scan);
    the duplicate census is ONE map-side-combinable exchange on the
    digest; marking re-joins the (usually tiny, AQE-broadcastable)
    duplicated-digest set; run stitching is one window partitioned
    per document. Nothing is quadratic and no stage holds more than
    the digest grid. The suffix-array pass this approximates finds
    the same spans but needs a global sort of every suffix."""
    from pyspark.sql import Window

    toks = docs.select(
        F.col(doc_col), F.split(F.col(text_col), " ").alias("_toks")
    )
    kg = (
        toks.where(F.size("_toks") >= k)
        .select(
            doc_col,
            F.explode(
                F.sequence(F.lit(1), F.size("_toks") - k + 1)
            ).alias("_p"),
            "_toks",
        )
        .select(
            doc_col,
            "_p",
            F.sha2(
                F.array_join(F.slice("_toks", F.col("_p"), k), " "), 256
            ).alias("_g"),
        )
    )
    dup = (
        kg.groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") > 1)
        .select("_g")
    )
    marked = kg.join(dup, "_g").select(doc_col, "_p")
    w = Window.partitionBy(doc_col).orderBy("_p")
    return (
        marked.withColumn("_grp", F.col("_p") - F.row_number().over(w))
        .groupBy(doc_col, "_grp")
        .agg(
            (F.min("_p") - 1).cast("long").alias("start_pos"),
            (F.count(F.lit(1)) + k - 1).cast("long").alias("n_tokens"),
        )
        .select(doc_col, "start_pos", "n_tokens")
    )
