"""Multi-language identification over a char-script + marker-word model.

A crawl-scale training pipeline partitions by language before everything
else, so this covers 35 languages (plus 'und') across the script classes
below, decided by pure integer arithmetic in two tiers —

  tier 1  SCRIPT: count codepoints per script class (precompiled
          char-class regexes — C-speed stdlib scans, one pass per
          class). The dominant script decides directly for single-
          language scripts (Hangul -> ko, Thai -> th, Greek -> el, ...);
          Han resolves zh-vs-ja by Kana presence.
  tier 2  MARKERS: for the multi-language scripts (Latin, Cyrillic,
          Arabic) score each candidate language by occurrences of its
          top function words among the document's letter-run tokens and
          take the argmax with a FIXED tie-break order. Zero positive
          evidence -> 'und' (undetermined), never a guess.

Same shared-kernel discipline as llmap_spark.kernel: `detect_language`
is total (never raises; any bytes-decodable junk yields ('und', ...)),
deterministic, stdlib-only, and the single implementation both the
oracle CLI and the Spark UDF call — there is no second copy to drift.
All decisions are integer comparisons (Arrow-boundary safe).

Scale shape: map-only Arrow-batched UDF; the profile tables are
module-level constants compiled once per executor interpreter (no
broadcast needed — they are code, not data). Reference analogue: the
reference has no language id at all; this is brief-side scope
(training-data pipeline operators).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, functions as F

# ---------------------------------------------------------------------------
# profiles
# ---------------------------------------------------------------------------

# script -> list of (lo, hi) inclusive codepoint ranges. Letters only —
# digits/punctuation/symbols deliberately count for no script.
SCRIPT_RANGES: dict[str, list[tuple[int, int]]] = {
    "latin": [(0x41, 0x5A), (0x61, 0x7A), (0xC0, 0xD6), (0xD8, 0xF6),
              (0xF8, 0x24F), (0x1E00, 0x1EFF)],
    "cyrillic": [(0x400, 0x4FF), (0x500, 0x52F)],
    "greek": [(0x370, 0x3FF), (0x1F00, 0x1FFF)],
    "arabic": [(0x600, 0x6FF), (0x750, 0x77F)],
    "hebrew": [(0x590, 0x5FF)],
    "devanagari": [(0x900, 0x97F)],
    "bengali": [(0x980, 0x9FF)],
    "tamil": [(0xB80, 0xBFF)],
    "thai": [(0xE00, 0xE7F)],
    "hangul": [(0x1100, 0x11FF), (0x3130, 0x318F), (0xAC00, 0xD7AF)],
    "kana": [(0x3040, 0x309F), (0x30A0, 0x30FF)],
    "han": [(0x3400, 0x4DBF), (0x4E00, 0x9FFF)],
    "georgian": [(0x10A0, 0x10FF)],
    "armenian": [(0x530, 0x58F)],
}

_SCRIPT_RE = {
    s: re.compile("[" + "".join(f"{chr(lo)}-{chr(hi)}" for lo, hi in rr)
                  + "]")
    for s, rr in SCRIPT_RANGES.items()
}

# scripts whose dominant presence decides the language outright
SCRIPT_SINGLE = {
    "greek": "el", "hebrew": "he", "devanagari": "hi", "bengali": "bn",
    "tamil": "ta", "thai": "th", "hangul": "ko", "georgian": "ka",
    "armenian": "hy", "kana": "ja",
}

# deterministic script precedence for count ties (argmax tie-break)
_SCRIPT_ORDER = ("latin", "cyrillic", "greek", "arabic", "hebrew",
                 "devanagari", "bengali", "tamil", "thai", "hangul",
                 "kana", "han", "georgian", "armenian")

# tier-2 marker words per multi-language script. Order of the language
# list IS the tie-break order (earlier wins on equal score). Words are
# matched as whole lowercase letter-run tokens; overlaps across
# languages are fine — argmax over 8 distinct markers separates them.
MARKERS: dict[str, list[tuple[str, tuple[str, ...]]]] = {
    "latin": [
        ("en", ("the", "and", "of", "to", "that", "is", "for", "with")),
        ("de", ("der", "die", "und", "das", "nicht", "mit", "ist", "ein")),
        ("fr", ("le", "les", "des", "est", "une", "dans", "que", "pour")),
        ("es", ("el", "los", "las", "una", "por", "con", "para", "está")),
        ("it", ("il", "che", "di", "per", "della", "sono", "anche",
                "più")),
        ("pt", ("não", "uma", "mais", "como", "são", "você", "também",
                "pelo")),
        ("nl", ("het", "een", "van", "niet", "zijn", "voor", "aan",
                "ook")),
        ("pl", ("nie", "się", "jest", "że", "ale", "jak", "tylko",
                "przez")),
        ("sv", ("och", "att", "det", "som", "är", "för", "har", "inte")),
        ("da", ("og", "at", "er", "til", "ikke", "den", "har", "blev")),
        ("fi", ("ja", "ei", "että", "mutta", "myös", "kun", "hän",
                "joka")),
        ("tr", ("bir", "ve", "bu", "için", "ile", "olarak", "daha",
                "çok")),
        ("id", ("yang", "dan", "di", "untuk", "dengan", "tidak", "ini",
                "itu")),
        ("vi", ("và", "của", "là", "có", "không", "được", "người",
                "trong")),
        ("ro", ("și", "este", "pentru", "care", "din", "nu", "cu",
                "mai")),
        ("cs", ("je", "se", "na", "že", "ale", "jako", "pro", "tak")),
        ("hu", ("és", "hogy", "nem", "egy", "van", "meg", "már",
                "csak")),
    ],
    "cyrillic": [
        ("ru", ("и", "в", "не", "на", "что", "это", "как", "по")),
        ("uk", ("і", "що", "це", "як", "та", "але", "від", "щоб")),
        ("bg", ("че", "това", "като", "към", "само", "след", "може",
                "беше")),
        ("sr", ("је", "су", "као", "него", "да", "за", "или", "био")),
    ],
    "arabic": [
        ("ar", ("في", "من", "على", "أن", "إلى", "عن", "هذا", "التي")),
        ("fa", ("که", "این", "است", "با", "را", "های", "برای", "آن")),
        ("ur", ("کے", "میں", "کی", "اور", "ہے", "سے", "کا", "نے")),
    ],
}

# word -> {lang: 1} per script group, inverted once at import
_MARKER_INDEX: dict[str, dict[str, tuple[str, ...]]] = {}
for _script, _langs in MARKERS.items():
    idx: dict[str, list[str]] = {}
    for _lang, _words in _langs:
        for _w in _words:
            idx.setdefault(_w, []).append(_lang)
    _MARKER_INDEX[_script] = {w: tuple(ls) for w, ls in idx.items()}

_LANG_ORDER: dict[str, tuple[str, ...]] = {
    s: tuple(lang for lang, _ in langs) for s, langs in MARKERS.items()
}

# letter-run tokenizer (unicode letters, no digits/underscore)
_WORD_RE = re.compile(r"[^\W\d_]+", re.UNICODE)

LANGUAGES: tuple[str, ...] = tuple(sorted(
    set(SCRIPT_SINGLE.values())
    | {lang for langs in MARKERS.values() for lang, _ in langs}
    | {"zh", "und"}))

LANGID_SCHEMA = "pred_lang string, pred_script string, n_letters int"


def detect_language(text: str | None) -> tuple[str, str, int]:
    """-> (lang, script, n_letters). TOTAL: None/empty/junk -> ('und',
    'none', 0); never raises. Integer decisions only; fixed tie-break
    orders make the result independent of dict/iteration order."""
    if not text:
        return ("und", "none", 0)
    try:
        counts = {s: len(rx.findall(text)) for s, rx in _SCRIPT_RE.items()}
    except Exception:
        return ("und", "none", 0)
    n_letters = sum(counts.values())
    if n_letters == 0:
        return ("und", "none", 0)
    script = max(_SCRIPT_ORDER, key=lambda s: (counts[s],
                                               -_SCRIPT_ORDER.index(s)))
    if script in SCRIPT_SINGLE:
        return (SCRIPT_SINGLE[script], script, n_letters)
    if script == "han":
        # zh unless Kana is present anywhere (ja prose mixes Kanji+Kana;
        # hanja-only Korean reads zh — documented approximation)
        return ("ja" if counts["kana"] > 0 else "zh", "han", n_letters)
    # tier 2: marker-word argmax within the script's language set
    order = _LANG_ORDER[script]
    index = _MARKER_INDEX[script]
    scores = dict.fromkeys(order, 0)
    for w in _WORD_RE.findall(text.lower()):
        for lang in index.get(w, ()):
            scores[lang] += 1
    best = max(order, key=lambda lang: (scores[lang],
                                        -order.index(lang)))
    if scores[best] == 0:
        return ("und", script, n_letters)  # no positive evidence
    return (best, script, n_letters)


def lang_id2(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add (pred_lang, pred_script, n_letters) per row via an Arrow-
    batched UDF over the SAME detect_language the oracle CLI and pytest
    exercise. Map-only: no shuffle, safe at any corpus size; the
    standing widen-single-split-scan guard applies (Python-UDF
    contract)."""
    from pyspark.sql.functions import pandas_udf

    from llmap_spark.session import ensure_parallelism

    df = ensure_parallelism(df)

    @pandas_udf(f"struct<{LANGID_SCHEMA}>")
    def detect(texts: pd.Series) -> pd.DataFrame:
        rows = {"pred_lang": [], "pred_script": [], "n_letters": []}
        for t in texts:
            lang, script, n = detect_language(t)
            rows["pred_lang"].append(lang)
            rows["pred_script"].append(script)
            rows["n_letters"].append(n)
        return pd.DataFrame(rows)

    out = df.withColumn("_lid", detect(F.col(text_col)))
    return out.select(*df.columns,
                      F.col("_lid.pred_lang").alias("pred_lang"),
                      F.col("_lid.pred_script").alias("pred_script"),
                      F.col("_lid.n_letters").alias("n_letters"))
