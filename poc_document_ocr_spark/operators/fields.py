"""Per-turn field extraction: extracted text → long-format field contributions.

Reference analog: the typed field dictionary the OCR service emits per page
(``DocumentIntelligenceService.cs:108-183``, keys ``valueString``/``content``/
``confidence``/...). In the transcript rebuild, fields appear in extracted
main content as ``key: value [confidence]`` lines, e.g.::

    identifier: TK-4711 [0.93]
    courtDate: 1985JAN12 [0.88]
    mainCharge: Speeding 42 in a 25

The extractor is pure column expressions (split → explode → regexp): it stays
inside whole-stage codegen, introduces no shuffle, and Catalyst prunes it to
the two columns it reads.

Also implements the identifier-extraction predicate (reference
``TryExtractIdentifier``, ``DocumentAggregatorService.cs:78-100``):
``coalesce(nullif(trim(value_string),''), nullif(trim(content),''))`` —
transposed here to the extracted field value, whitespace-only → null.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schema import FIELD_NAMES, IDENTIFIER_FIELD
from ..session import per_gateway

__all__ = [
    "extract_field_contributions",
    "with_extracted_identifier",
    "contributions_array",
    "best_extracted_id",
]

#: ``key: value [0.93]`` — confidence suffix optional; value may be empty.
_FIELD_LINE_PAT = r"^([A-Za-z][A-Za-z0-9_]*)\s*:\s*(.*?)\s*(?:\[(0(?:\.\d+)?|1(?:\.0+)?)\])?\s*$"


def _pre_colon_key(line: Column) -> Column:
    """Text before the first ':' with ALL trailing whitespace stripped —
    consistent with the full pattern's ``\\s*`` before the colon. The
    anchored ``\\s+$`` replace is linear, so long payload lines stay cheap."""
    return F.regexp_replace(F.substring_index(line, ":", 1), r"\s+$", "")


@per_gateway
def contributions_array(text_col: str = "extracted_text") -> Column:
    """Per-turn field contributions as an ``array<struct>`` column expression.

    Same recognition semantics as :func:`extract_field_contributions`
    (same regex, same field whitelist, same both-null drop rule) but with NO
    explode: the turn stays one row, so the consolidation path can run a
    single shuffle over turn-grain data. Entirely JVM-side higher-order
    functions — stays in whole-stage codegen. Built once per JVM
    (:func:`~poc_document_ocr_spark.session.per_gateway`).
    """
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    # Cheap prefilter before the regex: a matching line's text before the
    # first ':' (modulo the pattern's \s* before the colon) must be exactly a
    # catalog field name. Payload lines — the vast majority, and the long
    # ones where the lazy-group regex backtracks quadratically — never reach
    # the regex. Exactly the lines the full pattern would keep survive: the
    # pattern allows ANY trailing whitespace before ':' (\s*), so the strip
    # must too — rtrim alone drops 'firstName\t: x' that the regex keeps.
    cands = F.filter(
        lines,
        lambda l: _pre_colon_key(l).isin(*FIELD_NAMES),
    )
    parsed = F.transform(
        cands,
        lambda l: F.struct(
            F.regexp_extract(l, _FIELD_LINE_PAT, 1).alias("field"),
            F.nullif(F.regexp_extract(l, _FIELD_LINE_PAT, 2), F.lit("")).alias(
                "raw_value"
            ),
            F.nullif(F.regexp_extract(l, _FIELD_LINE_PAT, 3), F.lit(""))
            .cast("double")
            .alias("confidence"),
        ),
    )
    return F.filter(
        parsed,
        lambda c: c["field"].isin(*FIELD_NAMES)
        & (c["raw_value"].isNotNull() | c["confidence"].isNotNull()),
    )


@per_gateway
def best_extracted_id(
    contribs_col: str, id_field: str = IDENTIFIER_FIELD
) -> Column:
    """Per-turn extracted identifier from the contributions array column
    named ``contribs_col``.

    Shuffle-free equivalent of :func:`with_extracted_identifier`'s groupBy +
    join: highest confidence wins, tie → max trimmed value (same ordering
    struct). Whitespace-only values are null (TryExtractIdentifier parity,
    ``DocumentAggregatorService.cs:78-100``). Built once per JVM.
    """
    cands = F.filter(
        F.col(contribs_col),
        lambda c: (c["field"] == id_field)
        & (F.trim(F.coalesce(c["raw_value"], F.lit(""))) != ""),
    )
    best = F.array_max(
        F.transform(
            cands,
            lambda c: F.struct(
                F.coalesce(c["confidence"], F.lit(float("-inf"))).alias("c"),
                F.trim(c["raw_value"]).alias("v"),
            ),
        )
    )
    return best["v"]


def extract_field_contributions(
    df: DataFrame,
    text_col: str = "extracted_text",
    keep_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """One output row per (turn, recognized field line).

    Output columns: ``*keep_cols, field, raw_value, confidence``.
    Rows where both raw_value and confidence would be null are dropped
    (reference ``CollectContributions`` skip,
    ``DocumentSchemaMapperService.cs:150-153``).
    """
    lines = df.select(
        *keep_cols,
        F.explode(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")).alias(
            "_line"
        ),
    ).filter(
        # same cheap pre-regex gate as contributions_array: keeps the
        # backtracking regex off long payload lines
        _pre_colon_key(F.col("_line")).isin(*FIELD_NAMES)
    )
    key = F.regexp_extract("_line", _FIELD_LINE_PAT, 1)
    val = F.regexp_extract("_line", _FIELD_LINE_PAT, 2)
    conf = F.regexp_extract("_line", _FIELD_LINE_PAT, 3)
    out = (
        lines.withColumn("field", key)
        .filter(F.col("field").isin(*FIELD_NAMES))
        .withColumn("raw_value", F.nullif(val, F.lit("")))
        .withColumn("confidence", F.nullif(conf, F.lit("")).cast("double"))
        .drop("_line")
    )
    return out.filter(
        F.col("raw_value").isNotNull() | F.col("confidence").isNotNull()
    )


def _identifier_predicate(value: Column) -> Column:
    """Non-whitespace value or null (TryExtractIdentifier parity)."""
    return F.nullif(F.trim(F.coalesce(value, F.lit(""))), F.lit(""))


def with_extracted_identifier(
    turns: DataFrame,
    contribs: DataFrame,
    id_field: str = IDENTIFIER_FIELD,
) -> DataFrame:
    """Join per-turn identifier contributions back onto the turns table.

    Adds ``extracted_id`` (null when the turn extracted no identifier).
    If a turn somehow carries several identifier lines, the highest
    confidence wins; tie → max value (same ordering struct as
    :func:`best_extracted_id`) — deterministic either way.
    """
    ids = (
        contribs.filter(F.col("field") == id_field)
        .withColumn("extracted_id", _identifier_predicate(F.col("raw_value")))
        .filter(F.col("extracted_id").isNotNull())
        .groupBy("conv_id", "turn_idx")
        .agg(
            F.max_by(
                "extracted_id",
                F.struct(
                    F.coalesce(F.col("confidence"), F.lit(float("-inf"))).alias(
                        "c"
                    ),
                    F.col("extracted_id").alias("v"),
                ),
            ).alias("extracted_id")
        )
    )
    return turns.join(ids, ["conv_id", "turn_idx"], "left")
