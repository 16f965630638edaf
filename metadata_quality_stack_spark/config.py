"""Rules-as-data configuration — the analog of the reference's metric tables.

Mirrors the structure of ``/root/reference/src/api/config.py``:

* ``METRICS_BY_PROFILE`` / ``COMMON_METRICS`` (config.py:243-316) ->
  ``RULES_BY_PROFILE`` / ``WEBTEXT_RULES`` here: one dict per rule with
  ``{id, dimension, weight, kind}``.
* ``RATING_THRESHOLDS_BY_PROFILE`` (config.py:30-46) ->
  ``RATING_THRESHOLDS_BY_PROFILE``.
* ``DIMENSION_MAX_SCORES`` (config.py:327-349) -> ``DIMENSION_MAX_BY_PROFILE``.
* vocabularies (config.py:182-195) -> broadcast stopword / blocklist sets.

The web-document profile keeps the reference's exact dimension weight
budget — findability 100, accessibility 100, interoperability 110,
reusability 75, contextuality 20, max 405, rating cuts 351/221/121 — and
re-targets each metric slot at a Gopher/C4-style web-text heuristic.
Rule ``kind``:
  * ``binary``   — per-doc pass/fail -> (count, population) in {(1,1),(0,1)}
  * ``fraction`` — per-doc (count, population) with a real denominator
                   (e.g. lines passing / total lines), like the reference's
                   entity-level populations (validators.py:878-974)
  * ``model``    — produced by a pandas-UDF scorer (langid / perplexity);
                   the extension slot of the checker plugin API
                   (validators.py:74-90)
"""

from __future__ import annotations

# --------------------------------------------------------------------------
# Heuristic thresholds (Gopher/C4-style, frozen as plan-time literals)
# --------------------------------------------------------------------------
MIN_WORDS = 20
MAX_WORDS = 100_000
MIN_MEAN_WORD_LEN = 2.0
MAX_MEAN_WORD_LEN = 12.0
MAX_SYMBOL_WORD_RATIO = 0.10  # (# + ellipsis) per word
MIN_STOPWORD_DENSITY = 0.02
MIN_DISTINCT_STOPWORDS = 2
MAX_DIGIT_RATIO = 0.20
MAX_WHITESPACE_RATIO = 0.40
MAX_AVG_LINE_LEN = 2_000
PERPLEXITY_MAX = 20_000.0  # calibrated: clean seed-vocab prose ~5-10k, gibberish ~300k
LANGID_MIN_CONF = 0.20

# --------------------------------------------------------------------------
# Rule table (dimension budgets identical to reference config.py:243-316)
# --------------------------------------------------------------------------
WEBTEXT_RULES: list[dict] = [
    # findability 100 = 30 + 30 + 20 + 20   (dcat_keyword/theme/spatial/temporal)
    {"id": "word_count", "dimension": "findability", "weight": 30, "kind": "binary"},
    {"id": "mean_word_length", "dimension": "findability", "weight": 30, "kind": "binary"},
    {"id": "alpha_ratio", "dimension": "findability", "weight": 20, "kind": "fraction"},
    {"id": "line_uniqueness", "dimension": "findability", "weight": 20, "kind": "fraction"},
    # accessibility 100 = 50 + 20 + 30      (accessURL/downloadURL/downloadURL_status)
    {"id": "terminal_punct", "dimension": "accessibility", "weight": 50, "kind": "fraction"},
    {"id": "ellipsis_free", "dimension": "accessibility", "weight": 20, "kind": "fraction"},
    {"id": "boilerplate_free", "dimension": "accessibility", "weight": 30, "kind": "binary"},
    # interoperability 110 = 20+10+5+5+20+20+30  (format..mediaType..*_compliance)
    {"id": "langid_match", "dimension": "interoperability", "weight": 20, "kind": "model"},
    {"id": "langid_confidence", "dimension": "interoperability", "weight": 10, "kind": "model"},
    {"id": "stopword_density", "dimension": "interoperability", "weight": 5, "kind": "binary"},
    {"id": "stopword_distinct", "dimension": "interoperability", "weight": 5, "kind": "binary"},
    {"id": "symbol_ratio", "dimension": "interoperability", "weight": 20, "kind": "binary"},
    {"id": "bullet_free", "dimension": "interoperability", "weight": 20, "kind": "fraction"},
    {"id": "perplexity_ok", "dimension": "interoperability", "weight": 30, "kind": "model"},
    # reusability 75 = 20+10+10+5+20+10     (license..publisher)
    {"id": "word_diversity", "dimension": "reusability", "weight": 20, "kind": "fraction"},
    {"id": "digit_ratio", "dimension": "reusability", "weight": 10, "kind": "binary"},
    {"id": "pii_email_free", "dimension": "reusability", "weight": 10, "kind": "binary"},
    {"id": "pii_phone_free", "dimension": "reusability", "weight": 5, "kind": "binary"},
    {"id": "whitespace_ratio", "dimension": "reusability", "weight": 20, "kind": "binary"},
    {"id": "pii_ip_free", "dimension": "reusability", "weight": 10, "kind": "binary"},
    # contextuality 20 = 5+5+5+5            (byteSize/issued/modified/rights)
    {"id": "chars_consistent", "dimension": "contextuality", "weight": 5, "kind": "binary"},
    {"id": "lang_present", "dimension": "contextuality", "weight": 5, "kind": "binary"},
    {"id": "source_present", "dimension": "contextuality", "weight": 5, "kind": "binary"},
    {"id": "avg_line_len", "dimension": "contextuality", "weight": 5, "kind": "binary"},
]

DIMENSIONS = ["findability", "accessibility", "interoperability", "reusability", "contextuality"]

# --------------------------------------------------------------------------
# Second profile — the NTI-RISP analog (reference config.py:262-316
# nti_risp row: COMMON_METRICS + NTI_RISP_SPECIFIC_METRICS, max 310).
# Shared rules keep their weights; the profile differs by rule SELECTION,
# dimension budgets (100/50/105/40/15) and rating thresholds (264/166/91),
# exactly as nti_risp differs from dcat_ap_es. ``ascii_ratio`` is the
# profile-SPECIFIC rule (the nti_risp_compliance slot, weight 30) — it
# exists only here, which is what makes the content-path checker
# registration quirk (validators.py:1053, SURVEY §2.5) observable.
# --------------------------------------------------------------------------
WEBTEXT_NTI_RULES: list[dict] = [
    # findability 100 (common block, all four rules shared)
    {"id": "word_count", "dimension": "findability", "weight": 30, "kind": "binary"},
    {"id": "mean_word_length", "dimension": "findability", "weight": 30, "kind": "binary"},
    {"id": "alpha_ratio", "dimension": "findability", "weight": 20, "kind": "fraction"},
    {"id": "line_uniqueness", "dimension": "findability", "weight": 20, "kind": "fraction"},
    # accessibility 50 (common keeps only the accessURL_status slot)
    {"id": "terminal_punct", "dimension": "accessibility", "weight": 50, "kind": "fraction"},
    # interoperability 105 = 20+10 common + 5+20+20+30 nti-specific
    {"id": "langid_match", "dimension": "interoperability", "weight": 20, "kind": "model"},
    {"id": "langid_confidence", "dimension": "interoperability", "weight": 10, "kind": "model"},
    {"id": "stopword_density", "dimension": "interoperability", "weight": 5, "kind": "binary"},
    {"id": "symbol_ratio", "dimension": "interoperability", "weight": 20, "kind": "binary"},
    {"id": "bullet_free", "dimension": "interoperability", "weight": 20, "kind": "fraction"},
    {"id": "ascii_ratio", "dimension": "interoperability", "weight": 30, "kind": "fraction"},
    # reusability 40 = license + license_vocabulary + publisher slots
    {"id": "word_diversity", "dimension": "reusability", "weight": 20, "kind": "fraction"},
    {"id": "digit_ratio", "dimension": "reusability", "weight": 10, "kind": "binary"},
    {"id": "pii_email_free", "dimension": "reusability", "weight": 10, "kind": "binary"},
    # contextuality 15 (common: byteSize/issued/modified slots)
    {"id": "chars_consistent", "dimension": "contextuality", "weight": 5, "kind": "binary"},
    {"id": "lang_present", "dimension": "contextuality", "weight": 5, "kind": "binary"},
    {"id": "source_present", "dimension": "contextuality", "weight": 5, "kind": "binary"},
]

DIMENSION_MAX_BY_PROFILE = {  # reference config.py:327-349
    "webtext": {
        "findability": 100,
        "accessibility": 100,
        "interoperability": 110,
        "reusability": 75,
        "contextuality": 20,
    },
    "webtext_nti": {
        "findability": 100,
        "accessibility": 50,
        "interoperability": 105,
        "reusability": 40,
        "contextuality": 15,
    },
}

MAX_SCORE_BY_PROFILE = {"webtext": 405, "webtext_nti": 310}  # config.py:321-325

RATING_THRESHOLDS_BY_PROFILE = {  # reference config.py:30-46
    "webtext": {"excellent": 351, "good": 221, "sufficient": 121},
    "webtext_nti": {"excellent": 264, "good": 166, "sufficient": 91},
}

# the default profile's ceiling (read by sampling), an alias like the
# reference's RATING_THRESHOLDS = RATING_THRESHOLDS_BY_PROFILE["dcat_ap_es"]
MAX_SCORE = MAX_SCORE_BY_PROFILE["webtext"]

RATINGS = ["Excellent", "Good", "Sufficient", "Bad"]

# Per-metric human-readable labels, EN + ES — the reference ships a
# bilingual label per metric id (src/api/validators.py:968-969 emits
# label_en/label_es from the label tables in src/api/config.py) and the
# client renders reports from them. One table for all profiles: labels
# are a property of the metric id, not of the profile selection.
RULE_LABELS: dict[str, tuple[str, str]] = {
    "word_count": ("Word count within range", "Numero de palabras dentro del rango"),
    "mean_word_length": ("Mean word length plausible", "Longitud media de palabra plausible"),
    "alpha_ratio": ("Alphabetic character ratio", "Proporcion de caracteres alfabeticos"),
    "ascii_ratio": ("ASCII character ratio", "Proporcion de caracteres ASCII"),
    "line_uniqueness": ("Line uniqueness", "Unicidad de lineas"),
    "terminal_punct": ("Lines end in punctuation", "Lineas terminadas en puntuacion"),
    "ellipsis_free": ("Lines free of ellipsis", "Lineas sin puntos suspensivos"),
    "boilerplate_free": ("Free of boilerplate phrases", "Sin frases de plantilla"),
    "langid_match": ("Language matches declared", "Idioma coincide con el declarado"),
    "langid_confidence": ("Language identification confidence", "Confianza de identificacion de idioma"),
    "stopword_density": ("Stopword density sufficient", "Densidad de palabras vacias suficiente"),
    "stopword_distinct": ("Distinct stopwords present", "Palabras vacias distintas presentes"),
    "symbol_ratio": ("Symbol-to-word ratio bounded", "Proporcion de simbolos por palabra acotada"),
    "bullet_free": ("Lines free of bullets", "Lineas sin vinetas"),
    "perplexity_ok": ("Perplexity below threshold", "Perplejidad bajo el umbral"),
    "word_diversity": ("Word diversity", "Diversidad de palabras"),
    "digit_ratio": ("Digit ratio bounded", "Proporcion de digitos acotada"),
    "pii_email_free": ("Free of email addresses", "Sin direcciones de correo"),
    "pii_phone_free": ("Free of phone numbers", "Sin numeros de telefono"),
    "whitespace_ratio": ("Whitespace ratio bounded", "Proporcion de espacios acotada"),
    "pii_ip_free": ("Free of IP addresses", "Sin direcciones IP"),
    "chars_consistent": ("Character count consistent", "Recuento de caracteres consistente"),
    "lang_present": ("Language declared", "Idioma declarado"),
    "source_present": ("Source declared", "Fuente declarada"),
    "avg_line_len": ("Average line length bounded", "Longitud media de linea acotada"),
}

# Gopher/C4-style hard filters: a failing hard rule (percentage < 0.5)
# forces drop regardless of the weighted rollup. The rollup still decides
# rating; keep = rating != 'Bad' AND no hard-fail.
HARD_RULES = [
    "word_count",        # too short / too long
    "line_uniqueness",   # boilerplate repetition
    "symbol_ratio",      # symbol salad
    "stopword_density",  # keyword stuffing
    "langid_match",      # non-target language (model rule, full profile)
    "perplexity_ok",     # gibberish (model rule, full profile)
]

# Profiles: "<name>" = full rule set (models included); "<name>_native" =
# only rules expressible as native SQL (the DuckDB-oracle-checkable subset).
RULES_BY_PROFILE = {
    "webtext": WEBTEXT_RULES,
    "webtext_native": [r for r in WEBTEXT_RULES if r["kind"] != "model"],
    "webtext_nti": WEBTEXT_NTI_RULES,
    "webtext_nti_native": [r for r in WEBTEXT_NTI_RULES if r["kind"] != "model"],
}

DEFAULT_PROFILE = "webtext"


def severity_for(rule_id: str) -> str:
    """Per-rule severity, the analog of the reference's ``sh:severity``
    census (docs/shacl/dcat-ap-es/1.0.0/*.ttl: 291 sh:Violation / 53
    sh:Warning; the client partitions reports by it,
    react-app/src/services/SHACLValidationService.ts:661-675). A hard
    rule failing forces drop -> 'violation'; soft rules only cost
    points -> 'warning'."""
    return "violation" if rule_id in HARD_RULES else "warning"


def labels_for(rule_id: str) -> tuple[str, str]:
    """(label_en, label_es) for a rule id (validators.py:968-969)."""
    return RULE_LABELS[rule_id]


def base_profile(profile: str) -> str:
    """'webtext_nti_native[_content]' -> 'webtext_nti' (thresholds lookup)."""
    for suffix in ("_content", "_native"):
        if profile.endswith(suffix):
            profile = profile[: -len(suffix)]
    return profile


def thresholds_for(profile: str) -> dict[str, int]:
    return RATING_THRESHOLDS_BY_PROFILE[base_profile(profile)]


def resolve_profile(profile: str, via_content: bool = False) -> str:
    """Profile resolution including the reference's content-path quirk.

    ``validate_metadata_from_content`` registers checkers for the DEFAULT
    profile regardless of the requested model (validators.py:1053 calls
    ``register_standard_checkers()`` with no argument), so profile-only
    metrics are silently skipped on the content path (validators.py:925-927)
    while rating thresholds still come from the requested model. We
    reproduce that faithfully: the returned content-variant profile keeps
    the requested profile's thresholds but drops rules whose id is not in
    the default profile's checker registry."""
    if not via_content:
        return profile
    registered = {r["id"] for r in RULES_BY_PROFILE[DEFAULT_PROFILE]}
    content_name = profile + "_content"
    if content_name not in RULES_BY_PROFILE:
        RULES_BY_PROFILE[content_name] = [
            r for r in RULES_BY_PROFILE[profile] if r["id"] in registered
        ]
    return content_name

# --------------------------------------------------------------------------
# Broadcast vocabularies (analog of docs/vocabularies/*.csv, config.py:182-195)
# --------------------------------------------------------------------------
# English stopwords — frozen, deliberately small (Gopher uses a tiny list).
STOPWORDS_EN = [
    "the", "be", "to", "of", "and", "a", "in", "that", "have", "i",
    "it", "for", "not", "on", "with", "he", "as", "you", "do", "at",
    "this", "but", "his", "by", "from", "is", "was", "are", "an", "or",
]

# Per-language stopword sets for the SQL-expressible heuristic langid
# (the model langid is the hashed char-n-gram UDF in functions/langid.py).
STOPWORDS_BY_LANG = {
    "en": ["the", "and", "of", "to", "in", "is", "was", "that", "with", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "las", "por"],
    "de": ["der", "die", "und", "das", "von", "mit", "den", "ist", "nicht", "ein"],
    "fr": ["le", "la", "les", "de", "des", "et", "est", "dans", "pour", "que"],
    "zh": ["de5", "shi4", "zai4", "le5", "wo3", "you3", "ta1", "zhe4", "bu4", "ren2"],
}

BOILERPLATE_PHRASES = [
    "lorem ipsum",
    "terms of service",
    "enable javascript",
    "cookies must be enabled",
    "all rights reserved",
]

# --------------------------------------------------------------------------
# PII scrub patterns — restricted to the Java/RE2/Python common regex subset
# (reference hit the dialect problem itself: SHACLValidationService.ts:51-83,
# validators.py:504-506). No lookaround; \b only.
# --------------------------------------------------------------------------
PII_EMAIL = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
PII_IP = (
    r"\b(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
    r"\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
    r"\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
    r"\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b"
)
PII_PHONE = (
    r"\+[0-9]{1,3}([ .\-][0-9]{2,4}){2,4}"  # +34 612 345 678
    r"|\([0-9]{3}\)[ ]?[0-9]{3}[.\-][0-9]{4}"  # (555) 123-4567
    r"|\b[0-9]{9,11}\b"  # 612345678
)
PII_REPLACEMENTS = {
    "email": (PII_EMAIL, "<EMAIL>"),
    "phone": (PII_PHONE, "<PHONE>"),
    "ip": (PII_IP, "<IP>"),
}
# Scrub order is part of the contract (email first so user@host never gets a
# phone match inside it; ip before phone would let \b[0-9]{9,11}\b eat
# dotted quads — keep email, ip, phone).
SCRUB_ORDER = ["email", "ip", "phone"]

# Toxicity masking (north rule: "regex-based PII/toxicity scrubbing").
# Word-list driven: terms are masked as whole words, case-insensitive,
# via ONE alternation regex (functions.scrub.toxicity_pattern). The
# default list is a deliberately mild starter set — production deploys
# swap in their own policy list; everything downstream (pattern build,
# Spark expression, DuckDB/pandas oracle mirrors) is parameterized on
# the list, so the gate can exercise the machinery with corpus-specific
# terms. Masking runs AFTER the PII chain (on already-scrubbed text).
TOXIC_TERMS = ["damn", "hell", "crap", "idiot", "stupid", "moron"]
TOX_TOKEN = "<TOX>"
