"""Triple + mention extraction.

Analog of the reference's dependency-edge extractors (reference:
src/cocosearch/deps/extractors/python.py:32-213, orchestrated by
extractor.py:206-261) and symbol extraction (indexer/symbols.py:423-483):
per-segment text → (subj, pred, obj) rows with a closed predicate
vocabulary (models.py:13-18 analog) plus mention rows for linking.

Grammar: five sentence forms over the closed predicate vocabulary (four
guarded regex passes; negation is the stop-word suppression rule, not a
pattern). The conjunction form is a SEPARATE scan on purpose: folding it
into the active pattern as a greedy optional tail consumes the next
sentence's subject, losing triples on chained relations
("A uses B and C uses D" must yield (C,uses,D) too) — pinned by
test_chained_conjunction_parity. All forms are whitespace-tolerant
(``\\s+`` between words — real transcripts have newlines and double
spaces), mirroring how the reference ships one extractor per syntactic
form (python.py handles plain import / from-import / aliased import etc.,
each a separate rule):

- ACTIVE      ``subj <phrase> obj``               → (subj, pred, obj)
- CONJUNCTION ``subj <phrase> obj and obj2``      → two triples
- PASSIVE     ``obj is <passive-phrase> by subj`` → (subj, pred, obj)
- APPOSITIVE  ``subj , which <phrase> obj``       → (subj, pred, obj)
- NEGATION    ``subj never/not <phrase> obj``     → NOTHING (stop rule)

Function words (``which``/``is``/``by``) are excluded as subjects/objects —
the appositive tail "which <phrase> obj" would otherwise also match the
active form with subj="which" (the stop-filter is the cross-form
disambiguation rule, applied identically here and in the pure-Python
``reference_extractor`` the tests compare against).

One implementation, pure Catalyst: per-form ``regexp_extract_all`` capture
groups zipped positionally and exploded once. The whole extractor lives
inside whole-stage codegen; at 10^12 turns this is the scale path (regex
runs JVM-side, zero Python serde). Precision/recall against
``reference_extractor`` is pinned at 1.0 in tests.

Duplicates within a turn (including duplicates manufactured by segment
overlap) are removed exactly like the reference's ``_deduplicate_edges``
(extractor.py:181-203): distinct on the full triple key.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from coco_search_spark.fixtures import PASSIVE_OF, RELATIONS
from coco_search_spark.functions.text import IDENT_RE


def _ws_alt(phrases: list[str]) -> str:
    """Alternation over phrases with \\s+ between phrase words, longest
    first so overlapping phrases resolve deterministically."""
    return "|".join(
        r"\s+".join(re.escape(w) for w in p.split(" "))
        for p in sorted(phrases, key=len, reverse=True)
    )


_PHRASE_ALT = _ws_alt([ph for _, ph in RELATIONS])
_PASSIVE_ALT = _ws_alt(list(PASSIVE_OF.values()))

# form → (regex, swap): swap=True means group 3 is the subject (passive).
ACTIVE_RE = rf"\b({IDENT_RE})\s+({_PHRASE_ALT})\s+({IDENT_RE})\b"
PASSIVE_RE = rf"\b({IDENT_RE})\s+is\s+({_PASSIVE_ALT})\s+by\s+({IDENT_RE})\b"
APPOS_RE = rf"\b({IDENT_RE})\s*,\s*which\s+({_PHRASE_ALT})\s+({IDENT_RE})\b"
# conjunction: "A <phrase> B and C" → (A,p,B) + (A,p,C); group 4 = 2nd obj
CONJ_RE = rf"\b({IDENT_RE})\s+({_PHRASE_ALT})\s+({IDENT_RE})\s+and\s+({IDENT_RE})\b"

PRED_OF_PHRASE = {phrase: pred for pred, phrase in RELATIONS}
PRED_OF_PASSIVE = {phrase: pred for pred, phrase in PASSIVE_OF.items()}

# Bump whenever the extraction grammar's OUTPUT changes (new forms, changed
# stop rules): the config identity hash folds this in, so a resume against
# facts produced by an older grammar full-re-extracts instead of silently
# mixing grammars in one snapshot. Round 3 shipped the 5-form grammar.
GRAMMAR_VERSION = 3

# Function words that may syntactically occupy an identifier slot in one
# form while being part of another form's scaffolding — plus negation
# markers: "A never uses B" must yield NOTHING, and the only way the active
# pattern can fire on it is with subj="never"/"not", so stop-filtering the
# markers IS the negation rule (applied identically in every impl).
STOP_IDENTS = frozenset({"which", "is", "by", "and", "never", "not"})

# (regex, swap, pred map, required literal substrings): the literals gate
# the form's regex behind cheap instr() substring checks — a segment that
# never contains "which" cannot match the appositive form, so its regex
# scan is skipped entirely (false positives in the guard are fine, the
# regex still decides; false negatives are impossible for literal words).
# The conjunction form is 4-group: the extra object yields a second triple.
GRAMMAR: list[tuple[str, bool, dict[str, str], list[str]]] = [
    (ACTIVE_RE, False, PRED_OF_PHRASE, []),
    (PASSIVE_RE, True, PRED_OF_PASSIVE, ["is", "by"]),
    (APPOS_RE, False, PRED_OF_PHRASE, ["which"]),
    (CONJ_RE, False, PRED_OF_PHRASE, ["and"]),
]


def _map_expr(mapping: dict[str, str]) -> Column:
    pairs: list = []
    for phrase, pred in mapping.items():
        pairs.extend([F.lit(phrase), F.lit(pred)])
    return F.create_map(*pairs)


def _guarded_matches(
    seg: Column,
    regex: str,
    or_words: list[str] | tuple[str, ...],
    guards: list[str],
    group: int = 0,
) -> Column:
    """regexp_extract_all(group) gated behind cheap instr() literal checks
    — THE single guard implementation every extraction family uses:

    - OR-guard (``or_words``): a match REQUIRES one of these literals
      (phrase words / marker words), so a segment containing none of them
      (most filler-heavy segments) skips the regex scan entirely — N instr
      substring probes are far cheaper than one alternation-heavy regex
      pass over the segment;
    - AND-guards (``guards``): form-scaffolding literals (is/by/which/and)
      that every match must contain.

    False positives in either guard are fine (the regex still decides);
    false negatives are impossible for literal substrings of any match."""
    phrase_cond = None
    for w in or_words:
        c = F.instr(seg, w) > 0
        phrase_cond = c if phrase_cond is None else (phrase_cond | c)
    matches = F.regexp_extract_all(seg, F.lit(regex), group)
    if phrase_cond is not None:
        matches = F.when(phrase_cond, matches).otherwise(
            F.array().cast("array<string>")
        )
    for lit in guards:
        matches = F.when(F.instr(seg, lit) > 0, matches).otherwise(
            F.array().cast("array<string>")
        )
    return matches


def _phrase_words(mapping: dict[str, str]) -> list[str]:
    """The OR-guard literal set for a phrase vocabulary: each phrase's
    first word (contiguous in any match regardless of ``\\s+`` variance)."""
    return sorted({phrase.split(" ")[0] for phrase in mapping})


def _form_triples(
    seg: Column,
    regex: str,
    swap: bool,
    mapping: dict[str, str],
    guards: list[str],
    with_match: bool = False,
) -> Column:
    """array<struct<subj,pred,obj[,m]>> of this form's matches in seg.

    ONE full-text regex scan per form (group 0); capture groups are then
    re-extracted from each short match string — O(match length), not
    another pass over the segment. Running 3 scans instead of 9 keeps the
    extractor's cost ≈ the single-form round-1 extractor despite 3× the
    grammar. ``with_match`` additionally carries the raw group-0 match
    string (for provenance offsets)."""
    pred_map = _map_expr(mapping)
    matches = _guarded_matches(seg, regex, _phrase_words(mapping), guards)
    g = lambda m, i: F.regexp_extract(m, regex, i)  # noqa: E731

    def triple(m, obj_group: int):
        fields = [
            g(m, 3 if swap else 1).alias("subj"),
            pred_map[F.regexp_replace(g(m, 2), r"\s+", " ")].alias("pred"),
            g(m, 1 if swap else obj_group).alias("obj"),
        ]
        if with_match:
            fields.append(m.alias("m"))
        return F.struct(*fields)

    if re.compile(regex).groups >= 4:  # conjunction: second object → second triple
        # both triples built in ONE pass over ONE match array — a concat of
        # two transforms duplicates the guarded regexp_extract_all expression
        # (and so the full-text regex scan) in the physical plan
        return F.flatten(
            F.transform(matches, lambda m: F.array(triple(m, 3), triple(m, 4)))
        )
    return F.transform(matches, lambda m: triple(m, 3))


def extract_triples(segments: DataFrame) -> DataFrame:
    """segments → distinct (conv_id, turn_idx, subj, pred, obj) triples.

    One projection computes every form's match array, a single explode
    flattens their concatenation, and the distinct is the only shuffle —
    partial aggregation (map-side combine) collapses the overlap dupes
    before exchange, so the shuffle carries ≈unique triples only.
    """
    all_forms = _cached_col(
        "extract_triples",
        lambda: F.concat(
            *[
                _form_triples(F.col("seg_text"), rx, sw, mp, gd)
                for rx, sw, mp, gd in GRAMMAR
            ]
        ),
    )
    exploded = (
        segments.select("conv_id", "turn_idx", F.explode(all_forms).alias("t"))
        .select(
            "conv_id",
            "turn_idx",
            F.col("t.subj").alias("subj"),
            F.col("t.pred").alias("pred"),
            F.col("t.obj").alias("obj"),
        )
        .filter(
            ~F.col("subj").isin(*STOP_IDENTS) & ~F.col("obj").isin(*STOP_IDENTS)
        )
    )
    return exploded.distinct()


# "X <phrase> Y as Z" — Z is a local alias for Y (the reference's aliased
# import, deps/extractors/python.py aliased-import rules); the triple
# (X, pred, Y) itself is already produced by the active form.
ALIAS_BINDING_RE = rf"\b(?:{IDENT_RE})\s+(?:{_PHRASE_ALT})\s+({IDENT_RE})\s+as\s+({IDENT_RE})\b"


def extract_alias_bindings(segments: DataFrame) -> DataFrame:
    """segments → distinct (conv_id, turn_idx, target, alias) rows from
    'X <phrase> TARGET as ALIAS' sentences. These bindings are explicit
    same-entity evidence for canonicalization (canonicalize_surfaces'
    extra_edges) — the only evidence when the alias shares no tokens or
    shingles with the target."""
    guarded = _guarded_matches(
        F.col("seg_text"), ALIAS_BINDING_RE, _phrase_words(PRED_OF_PHRASE), ["as"]
    )
    return (
        segments.select("conv_id", "turn_idx", F.explode(guarded).alias("m"))
        .select(
            "conv_id",
            "turn_idx",
            F.regexp_extract(F.col("m"), ALIAS_BINDING_RE, 1).alias("target"),
            F.regexp_extract(F.col("m"), ALIAS_BINDING_RE, 2).alias("alias"),
        )
        .filter(~F.col("target").isin(*STOP_IDENTS) & ~F.col("alias").isin(*STOP_IDENTS))
        .distinct()
    )


def extract_triples_prov(segments: DataFrame) -> DataFrame:
    """Like ``extract_triples`` but with per-edge provenance — the analog of
    the reference's per-edge JSONB metadata (module / line / alias,
    reference: src/cocosearch/deps/db.py:46, extractors/python.py:96-106):

    - ``src_offset``: 1-based char position of the evidencing match in the
      reassembled turn text — precisely: the minimum over MATCHING segments
      of (segment start_char + first occurrence of the match string within
      that segment). This equals global strpos(turn_text, match) whenever
      the earliest substring occurrence lies in a segment that also
      contains a regex match (always true when the matched string appears
      only at match sites, e.g. the oracle-gated derived data); a string
      that also occurs unmatched strictly earlier in a match-free segment
      would anchor provenance at the first MATCHED site instead — the more
      useful answer for "why does this edge exist".
    - ``src_seg_idx``: the segment index of that earliest occurrence.

    Requires ``segment_turns(..., with_offsets=True)`` input (start_char
    column). Same single-shuffle shape as extract_triples: the groupBy
    min(struct) combines map-side, so the exchange carries ≈unique triples.
    """
    all_forms = _cached_col(
        "extract_triples_prov",
        lambda: F.concat(
            *[
                _form_triples(F.col("seg_text"), rx, sw, mp, gd, with_match=True)
                for rx, sw, mp, gd in GRAMMAR
            ]
        ),
    )
    exploded = (
        segments.select(
            "conv_id", "turn_idx", "seg_idx", "start_char", "seg_text",
            F.explode(all_forms).alias("t"),
        )
        .select(
            "conv_id",
            "turn_idx",
            "seg_idx",
            F.col("t.subj").alias("subj"),
            F.col("t.pred").alias("pred"),
            F.col("t.obj").alias("obj"),
            (F.col("start_char") + F.expr("instr(seg_text, t.m)")).alias("pos"),
        )
        .filter(
            ~F.col("subj").isin(*STOP_IDENTS) & ~F.col("obj").isin(*STOP_IDENTS)
        )
    )
    prov = F.min(
        F.struct(F.col("pos").alias("src_offset"), F.col("seg_idx").alias("src_seg_idx"))
    ).alias("prov")
    return (
        exploded.groupBy("conv_id", "turn_idx", "subj", "pred", "obj")
        .agg(prov)
        .select(
            "conv_id",
            "turn_idx",
            "subj",
            "pred",
            "obj",
            F.col("prov.src_offset").alias("src_offset"),
            F.col("prov.src_seg_idx").alias("src_seg_idx"),
        )
    )


# ---------------------------------------------------------------------------
# Standalone mention extraction (X2 full): entities mentioned WITHOUT a
# relation still become mention rows / KG nodes — the analog of the
# reference extracting symbols independently of dependency edges
# (reference: src/cocosearch/indexer/symbols.py:423-483). The grammar is
# context-typed: a marker construction assigns each mention a kind, like
# the reference's symbol kinds (function/class/... per node type).
# ---------------------------------------------------------------------------

# (regex with ONE capture group, mention_kind, guard literals)
MENTION_GRAMMAR: list[tuple[str, str, list[str]]] = [
    (rf"\bsee\s+({IDENT_RE})\b", "reference", ["see"]),
    (
        rf"\bthe\s+({IDENT_RE})\s+(?:module|component|subsystem)\b",
        "definition",
        ["module", "component", "subsystem"],
    ),
]


def _tag_mention(kind: str):
    # closure factory — pyspark inspects HOF lambda arity, so the kind must
    # be bound via closure, not a default argument
    return lambda x: F.struct(x.alias("mention"), F.lit(kind).alias("mention_kind"))


def extract_standalone_mentions(segments: DataFrame) -> DataFrame:
    """segments → distinct (conv_id, turn_idx, mention, mention_kind) rows
    from marker constructions ("see X", "the X module") — relation-free
    entity evidence. Pure Catalyst: one guarded regex scan per marker form,
    one explode, distinct; same shuffle shape as extract_triples."""
    seg = F.col("seg_text")
    arrays = []
    for rx, kind, guards in MENTION_GRAMMAR:
        m = _guarded_matches(seg, rx, guards, [], group=1)
        arrays.append(F.transform(m, _tag_mention(kind)))
    return (
        segments.select("conv_id", "turn_idx", F.explode(F.concat(*arrays)).alias("t"))
        .select(
            "conv_id",
            "turn_idx",
            F.col("t.mention").alias("mention"),
            F.col("t.mention_kind").alias("mention_kind"),
        )
        .filter(~F.col("mention").isin(*STOP_IDENTS))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Unified one-scan extraction: at 10^12 turns the corpus scan IS the cost,
# so the pipeline must not read it once per extraction family. extract_all
# computes every family's match arrays (4 triple forms + 2 mention markers
# + alias bindings) in ONE projection over ONE scan, explodes once, and
# dedups everything through ONE shuffle (groupBy with map-side combine).
# The per-family functions above remain the composable/driver-query units;
# their outputs are provably identical (tests/test_round3.py parity test).
# ---------------------------------------------------------------------------

EXTRACT_KINDS = ("triple", "mention", "binding")

# Memo for the big grammar Column trees. Building one costs ~0.6-0.9 s of
# DRIVER time (hundreds of py4j round-trips marshalling the regex
# alternations into Catalyst expression objects) and the result is an
# immutable unresolved expression — independent of DataFrame and session,
# valid for the lifetime of the gateway JVM (one per Python process). The
# build cost was paid on EVERY pipeline run, warm runs included, where it
# was a measurable slice of the fixed floor.
_COL_CACHE: dict = {}


def _cached_col(key: str, builder):
    col = _COL_CACHE.get(key)
    if col is None:
        col = builder()
        _COL_CACHE[key] = col
    return col


def _null_str(name: str):
    return F.lit(None).cast("string").alias(name)


def extract_all(segments: DataFrame) -> DataFrame:
    """segments (from ``segment_turns(..., with_offsets=True)``) → one
    deduped row per extracted fact, tagged by ``kind``:

    - kind='triple':  subj, pred, obj, src_offset, src_seg_idx
    - kind='mention': mention, mention_kind        (standalone, X2)
    - kind='binding': target, alias                (in-text alias evidence)

    One corpus scan, one explode, one shuffle; provenance offsets ride the
    same min-struct aggregate the triple dedup needs anyway."""
    seg = F.col("seg_text")

    def triple_builder(regex: str, swap: bool, pred_map, obj_group: int):
        def build(m):
            g = lambda i: F.regexp_extract(m, regex, i)  # noqa: E731
            return F.struct(
                F.lit("triple").alias("kind"),
                g(3 if swap else 1).alias("subj"),
                pred_map[F.regexp_replace(g(2), r"\s+", " ")].alias("pred"),
                g(1 if swap else obj_group).alias("obj"),
                m.alias("m"),
                _null_str("mention"),
                _null_str("mention_kind"),
                _null_str("target"),
                _null_str("alias"),
            )

        return build

    def build_all_forms():
        arrays = []
        for rx, sw, mp, gd in GRAMMAR:
            pred_map = _map_expr(mp)
            matches = _guarded_matches(seg, rx, _phrase_words(mp), gd)
            if re.compile(rx).groups >= 4:
                # one pass over one match array builds both triples —
                # appending two transforms would duplicate the guarded
                # regexp_extract_all (and so the full-text regex scan) in
                # the physical plan
                b3 = triple_builder(rx, sw, pred_map, 3)
                b4 = triple_builder(rx, sw, pred_map, 4)
                arrays.append(
                    F.flatten(F.transform(matches, lambda m: F.array(b3(m), b4(m))))
                )
            else:
                arrays.append(
                    F.transform(matches, triple_builder(rx, sw, pred_map, 3))
                )
        for rx, kind, guards in MENTION_GRAMMAR:
            m_arr = _guarded_matches(seg, rx, guards, [], group=1)
            arrays.append(F.transform(m_arr, mention_builder(kind)))
        b_arr = _guarded_matches(
            seg, ALIAS_BINDING_RE, _phrase_words(PRED_OF_PHRASE), ["as"]
        )
        arrays.append(F.transform(b_arr, binding_builder))
        return F.concat(*arrays)

    def mention_builder(kind: str):
        def build(x):
            return F.struct(
                F.lit("mention").alias("kind"),
                _null_str("subj"),
                _null_str("pred"),
                _null_str("obj"),
                _null_str("m"),
                x.alias("mention"),
                F.lit(kind).alias("mention_kind"),
                _null_str("target"),
                _null_str("alias"),
            )

        return build

    def binding_builder(x):
        return F.struct(
            F.lit("binding").alias("kind"),
            _null_str("subj"),
            _null_str("pred"),
            _null_str("obj"),
            _null_str("m"),
            _null_str("mention"),
            _null_str("mention_kind"),
            F.regexp_extract(x, ALIAS_BINDING_RE, 1).alias("target"),
            F.regexp_extract(x, ALIAS_BINDING_RE, 2).alias("alias"),
        )

    all_forms = _cached_col("extract_all", build_all_forms)

    stop = list(STOP_IDENTS)
    exploded = (
        segments.select(
            "conv_id", "turn_idx", "seg_idx", "start_char", "seg_text",
            F.explode(all_forms).alias("t"),
        )
        .select(
            "conv_id",
            "turn_idx",
            "seg_idx",
            F.col("t.kind").alias("kind"),
            F.col("t.subj").alias("subj"),
            F.col("t.pred").alias("pred"),
            F.col("t.obj").alias("obj"),
            F.col("t.mention").alias("mention"),
            F.col("t.mention_kind").alias("mention_kind"),
            F.col("t.target").alias("target"),
            F.col("t.alias").alias("alias"),
            # null for non-triple kinds (instr of a null match is null)
            (F.col("start_char") + F.expr("instr(seg_text, t.m)")).alias("pos"),
        )
        .filter(
            (F.col("kind") != "triple")
            | (~F.col("subj").isin(*stop) & ~F.col("obj").isin(*stop))
        )
        .filter((F.col("kind") != "mention") | ~F.col("mention").isin(*stop))
        .filter(
            (F.col("kind") != "binding")
            | (~F.col("target").isin(*stop) & ~F.col("alias").isin(*stop))
        )
    )
    prov = F.min(
        F.struct(F.col("pos").alias("src_offset"), F.col("seg_idx").alias("src_seg_idx"))
    ).alias("prov")
    return (
        exploded.groupBy(
            "conv_id", "turn_idx", "kind", "subj", "pred", "obj",
            "mention", "mention_kind", "target", "alias",
        )
        .agg(prov)
        .select(
            "conv_id", "turn_idx", "kind", "subj", "pred", "obj",
            "mention", "mention_kind", "target", "alias",
            F.col("prov.src_offset").alias("src_offset"),
            F.col("prov.src_seg_idx").alias("src_seg_idx"),
        )
    )


def split_extracted(combined: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """extract_all output → (triples, standalone_mentions, alias_bindings)
    with each family's canonical schema. The filters run over the already-
    deduped (fact-sized, post-shuffle) table — splitting is free."""
    triples = combined.filter(F.col("kind") == "triple").select(
        "conv_id", "turn_idx", "subj", "pred", "obj", "src_offset", "src_seg_idx"
    )
    mentions = combined.filter(F.col("kind") == "mention").select(
        "conv_id", "turn_idx", "mention", "mention_kind"
    )
    bindings = combined.filter(F.col("kind") == "binding").select(
        "conv_id", "turn_idx", "target", "alias"
    )
    return triples, mentions, bindings


def extract_mentions(triples: DataFrame) -> DataFrame:
    """Triples → mention rows to be entity-linked: each subj/obj occurrence
    becomes (conv_id, turn_idx, mention, mention_role). Analog of the
    reference's symbol rows feeding the resolver (symbols.py:41-47 +
    resolver probe extractor.py:66-129)."""
    subj_side = triples.select(
        "conv_id", "turn_idx", F.col("subj").alias("mention"), F.lit("subj").alias("mention_role")
    )
    obj_side = triples.select(
        "conv_id", "turn_idx", F.col("obj").alias("mention"), F.lit("obj").alias("mention_role")
    )
    return subj_side.unionByName(obj_side).distinct()
