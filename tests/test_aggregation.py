"""Fold + run-grouping golden tests — mirror reference unit tests 1:1
(DocumentAggregatorServiceTests.cs:32-107, DocumentSchemaMapperServiceTests.cs:44-226),
values verbatim, page→turn transposed (FIXTURES.md §3-4).
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from poc_document_ocr_spark.operators.aggregation import (
    consolidate,
    parse_ocr_date,
    run_headers,
    with_local_index,
    with_runs,
)
from poc_document_ocr_spark.schema import FIELD_NAMES


def turns_df(spark, rows):
    """rows: list of (conv_id, turn_idx, extracted_id)"""
    return spark.createDataFrame(
        [Row(conv_id=c, turn_idx=t, extracted_id=i) for c, t, i in rows],
        "conv_id string, turn_idx int, extracted_id string",
    )


def contribs_df(spark, rows):
    """rows: (conv_id, run_id, field, turn_idx, raw_value, confidence)"""
    return spark.createDataFrame(
        rows,
        "conv_id string, run_id int, field string, turn_idx int, "
        "raw_value string, confidence double",
    )


def test_field_line_prefilter_matches_regex(spark):
    """The cheap pre-regex gate must keep EXACTLY the lines the full pattern
    keeps: the pattern allows any whitespace before ':' (\\s*), so a tab
    before the colon must survive the prefilter (round-3 advisor finding)."""
    from poc_document_ocr_spark.operators.fields import (
        contributions_array,
        extract_field_contributions,
    )

    text = (
        "firstName\t: Ada [0.80]\n"       # tab before colon — regex keeps it
        "lastName : Lovelace [0.70]\n"     # space before colon
        "identifier: TK-1 [0.90]\n"        # plain
        "not_a_field: x [0.50]\n"          # unknown key → dropped
        "payload line without colon\n"
        "timestamps: 12:30:45 are payload"  # unknown key, colons in value
    )
    df = spark.createDataFrame(
        [("c", 1, text)], "conv_id string, turn_idx int, extracted_text string"
    )
    expect = {
        ("firstName", "Ada", 0.80),
        ("lastName", "Lovelace", 0.70),
        ("identifier", "TK-1", 0.90),
    }
    long_rows = {
        (r.field, r.raw_value, r.confidence)
        for r in extract_field_contributions(df).collect()
    }
    assert long_rows == expect
    arr = df.select(contributions_array().alias("cs")).collect()[0].cs
    assert {(c.field, c.raw_value, c.confidence) for c in arr} == expect


def runs_map(spark, rows):
    df = with_runs(turns_df(spark, rows))
    out = {}
    for r in df.collect():
        out[r.turn_idx] = (r.run_id, r.ffill_id, r.id_source)
    return out


# ---------------------------------------------------------------------------
# Forward-fill / run grouping (FIXTURES.md §4)
# ---------------------------------------------------------------------------


def test_runs_same_id_single_group(spark):
    m = runs_map(spark, [("c", 1, "TK-1"), ("c", 2, "TK-1"), ("c", 3, "TK-1")])
    assert {m[1][0], m[2][0], m[3][0]} == {1}
    assert all(m[t][2] == "Extracted" for t in (1, 2, 3))


def test_runs_gaps_forward_filled(spark):
    m = runs_map(
        spark,
        [("c", 1, "TK-1"), ("c", 2, None), ("c", 3, None), ("c", 4, "TK-2"), ("c", 5, None)],
    )
    assert m[1][0] == m[2][0] == m[3][0]
    assert m[4][0] == m[5][0] != m[1][0]
    assert m[2] == (m[1][0], "TK-1", "Inferred")
    assert m[5] == (m[4][0], "TK-2", "Inferred")


def test_runs_leading_orphans_synthetic_group(spark):
    rows = [("conv9", 1, None), ("conv9", 2, None), ("conv9", 3, "TK-1")]
    m = runs_map(spark, rows)
    assert m[1][0] == m[2][0] == 0
    assert m[1][1] is None and m[1][2] == "Inferred"
    assert m[3][0] == 1

    headers = run_headers(with_runs(turns_df(spark, rows))).collect()
    by_run = {h.run_id: h for h in headers}
    assert by_run[0].doc_key == "unknown-conv9-1"
    assert by_run[0].turn_idxs == [1, 2]
    assert [p.source for p in by_run[0].provenance] == ["Inferred", "Inferred"]
    assert [p.extracted_id for p in by_run[0].provenance] == [None, None]
    assert by_run[1].doc_key == "TK-1"


def test_runs_id_reappears_starts_new_group(spark):
    # THREE groups — runs, not global group-by (DocumentAggregatorService.cs:43-48)
    m = runs_map(spark, [("c", 1, "TK-1"), ("c", 2, "TK-2"), ("c", 3, "TK-1")])
    assert len({m[1][0], m[2][0], m[3][0]}) == 3


def test_runs_same_id_repeated_continues_group(spark):
    m = runs_map(spark, [("c", 1, "TK-1"), ("c", 2, None), ("c", 3, "TK-1")])
    assert m[1][0] == m[2][0] == m[3][0]


def test_runs_out_of_order_input_sorted_first(spark):
    rows = [("c", 4, "TK-2"), ("c", 1, "TK-1"), ("c", 5, None), ("c", 2, None), ("c", 3, None)]
    m = runs_map(spark, rows)
    assert m[1][0] == m[2][0] == m[3][0]
    assert m[4][0] == m[5][0] != m[1][0]


def test_local_reindex(spark):
    df = turns_df(spark, [("c", 3, None), ("c", 7, None), ("c", 12, None)])
    got = {r.turn_idx: r.local_idx for r in with_local_index(df).collect()}
    assert got == {3: 1, 7: 2, 12: 3}


# ---------------------------------------------------------------------------
# Merge folds (FIXTURES.md §3 — values verbatim from MapperTests)
# ---------------------------------------------------------------------------


def fold_one(spark, rows, field):
    """Fold the fixture through the production single-pass engine and
    return the SchemaField struct for ``field``."""
    turn_keys = sorted({(r[0], r[3]) for r in rows})
    turns = with_runs(turns_df(spark, [(c, t, None) for c, t in turn_keys]))
    rec = consolidate(turns, contribs_df(spark, rows)).collect()[0]
    return rec[field]


def test_highest_confidence_wins(spark):
    # ("Alice",0.60),("Alyce",0.95),("Alise",0.80) → "Alyce", 0.95
    rows = [
        ("c", 1, "firstName", 1, "Alice", 0.60),
        ("c", 1, "firstName", 2, "Alyce", 0.95),
        ("c", 1, "firstName", 3, "Alise", 0.80),
    ]
    r = fold_one(spark, rows, "firstName")
    assert (r.value, r.confidence, r.status) == ("Alyce", 0.95, "Pending")
    assert r.raw_text is None


def test_confidence_tie_lowest_turn_wins(spark):
    rows = [
        ("c", 1, "firstName", 2, "Second", 0.80),
        ("c", 1, "firstName", 1, "First", 0.80),
    ]
    r = fold_one(spark, rows, "firstName")
    assert r.value == "First"


def test_null_confidence_is_lowest_priority(spark):
    rows = [
        ("c", 1, "firstName", 1, "NoConf", None),
        ("c", 1, "firstName", 2, "Low", 0.10),
    ]
    r = fold_one(spark, rows, "firstName")
    assert (r.value, r.confidence) == ("Low", 0.10)


def test_all_null_confidence_first_turn_wins(spark):
    rows = [
        ("c", 1, "firstName", 2, "B", None),
        ("c", 1, "firstName", 1, "A", None),
    ]
    r = fold_one(spark, rows, "firstName")
    assert (r.value, r.confidence) == ("A", None)


def test_ordered_concat_min_confidence(spark):
    # ("Charge B",0.80)@2, ("Charge A",0.95)@1 → "Charge A\nCharge B", 0.80
    rows = [
        ("c", 1, "mainCharge", 2, "Charge B", 0.80),
        ("c", 1, "mainCharge", 1, "Charge A", 0.95),
    ]
    r = fold_one(spark, rows, "mainCharge")
    assert (r.value, r.confidence) == ("Charge A\nCharge B", 0.80)


def test_concat_whitespace_skipped_and_all_null_conf_zero(spark):
    rows = [
        ("c", 1, "additionalCharges", 1, "   ", 0.99),
        ("c", 1, "additionalCharges", 2, "Real charge", None),
    ]
    r = fold_one(spark, rows, "additionalCharges")
    # whitespace-only part skipped; contributing parts all null-confidence → 0.0
    assert (r.value, r.confidence) == ("Real charge", 0.0)


def test_concat_all_whitespace_null(spark):
    rows = [("c", 1, "mainCharge", 1, "  ", 0.9)]
    r = fold_one(spark, rows, "mainCharge")
    assert (r.value, r.confidence) == (None, None)


def test_signature_present_true_min_conf(spark):
    rows = [
        ("c", 1, "defendantSignature", 1, "present", 0.90),
        ("c", 1, "defendantSignature", 2, "unsigned", 0.70),
    ]
    r = fold_one(spark, rows, "defendantSignature")
    # min over ALL contributors (code behavior, not spec's max-over-signed)
    assert (r.value, r.confidence) == ("true", 0.70)


def test_signature_signed_case_insensitive(spark):
    rows = [("c", 1, "officerSignature", 1, "SIGNED", 0.85)]
    r = fold_one(spark, rows, "officerSignature")
    assert (r.value, r.confidence) == ("true", 0.85)


def test_signature_unsigned_false(spark):
    rows = [("c", 1, "defendantSignature", 1, "unsigned", 0.95)]
    r = fold_one(spark, rows, "defendantSignature")
    assert (r.value, r.confidence) == ("false", 0.95)


def test_date_parse_winner(spark):
    rows = [
        ("c", 1, "courtDate", 1, "1985JAN12", 0.88),
        ("c", 1, "courtDate", 2, "not a date", 0.20),
    ]
    r = fold_one(spark, rows, "courtDate")
    assert (r.value, r.raw_text, r.confidence) == ("1985-01-12", "1985JAN12", 0.88)


def test_date_parse_failure_keeps_raw(spark):
    rows = [("c", 1, "citationIssuedDate", 1, "2026FEB30", 0.91)]
    r = fold_one(spark, rows, "citationIssuedDate")
    assert (r.value, r.raw_text, r.confidence) == (None, "2026FEB30", 0.91)


def test_date_long_form_via_expression(spark):
    df = spark.createDataFrame(
        [("3rd day of January, 2026",), (" 7  TH  DAY  OF  JULY ,  1976 ",),
         ("2026-05-03",), ("31st DAY OF FEBRUARY, 2026",)],
        "raw string",
    ).select(parse_ocr_date(F.col("raw")).alias("iso"))
    assert [r.iso for r in df.collect()] == [
        "2026-01-03", "1976-07-07", None, None,
    ]


# ---------------------------------------------------------------------------
# All-13-keys completion + consolidation (MapperTests:44-76)
# ---------------------------------------------------------------------------


def test_consolidate_all_keys_present(spark):
    turns = with_runs(turns_df(spark, [("c", 1, "TK-9")]))
    contribs = contribs_df(spark, [("c", 1, "firstName", 1, "Ada", 0.9)])
    out = consolidate(turns, contribs).collect()
    assert len(out) == 1
    rec = out[0]
    for name in FIELD_NAMES:
        assert rec[name] is not None, name
        # contract guarantee 6: reviewed_* null at creation (SchemaField.cs)
        assert rec[name].reviewed_value is None, name
        assert rec[name].reviewed_at is None, name
        assert rec[name].reviewed_by is None, name
    assert rec["firstName"].value == "Ada"
    assert rec["lastName"].value is None
    assert rec["lastName"].status == "Pending"
    assert rec.doc_key == "TK-9"
    assert rec.turn_count == 1
    assert rec.turn_idxs == [1]


def test_signature_unrecognized_value_counted(spark):
    # FR-006 warn path: 'maybe' is neither signed/present nor unsigned →
    # mapped to false AND counted in sig_warnings
    rows = [
        ("c", 1, "defendantSignature", 1, "maybe", 0.8),
        ("c", 1, "officerSignature", 2, "unsigned", 0.7),
    ]
    turns = with_runs(turns_df(spark, [("c", 1, None), ("c", 2, None)]))
    rec = consolidate(turns, contribs_df(spark, rows)).collect()[0]
    assert rec.sig_warnings == 1
    assert rec["defendantSignature"].value == "false"
    assert rec["officerSignature"].value == "false"


def test_consolidate_provenance_and_counts(spark):
    turns = with_runs(
        turns_df(
            spark,
            [("c", 1, "TK-1"), ("c", 2, None), ("c", 3, None), ("c", 4, "TK-2")],
        )
    )
    contribs = contribs_df(spark, [("c", 1, "notes", 1, "hello", 0.5)])
    recs = {r.doc_key: r for r in consolidate(turns, contribs).collect()}
    assert set(recs) == {"TK-1", "TK-2"}
    r1 = recs["TK-1"]
    assert r1.turn_idxs == [1, 2, 3]
    assert [(p.turn_idx, p.source, p.extracted_id) for p in r1.provenance] == [
        (1, "Extracted", "TK-1"),
        (2, "Inferred", None),
        (3, "Inferred", None),
    ]
    assert recs["TK-2"].turn_count == 1


def test_consolidate_auto_equals_compact_at_any_threshold(spark):
    """The auto router's output is row-identical to the compact fold no
    matter where the threshold lands — all-compact, mixed, all-long."""
    from poc_document_ocr_spark.operators.aggregation import (
        consolidate_auto,
        consolidate_compact,
    )
    from poc_document_ocr_spark.schema import TRANSCRIPT_SCHEMA
    from poc_document_ocr_spark.sources.datagen import generate
    from poc_document_ocr_spark.operators.extraction import extract_turns

    data = generate(n_convs=12, median_turns=6, seed=7, skew=False)
    ex = extract_turns(
        spark.createDataFrame(data.turns, TRANSCRIPT_SCHEMA)
    ).localCheckpoint()
    compact = consolidate_compact(ex)
    for threshold in (0, 2, 10**9):
        auto = consolidate_auto(ex, threshold=threshold)
        assert auto.columns == compact.columns
        assert auto.exceptAll(compact).count() == 0
        assert compact.exceptAll(auto).count() == 0


def _fold_builders():
    from poc_document_ocr_spark.operators import aggregation, fields

    return (
        fields.contributions_array,
        fields.best_extracted_id,
        aggregation._field_struct,
        aggregation._field_struct_from_summary,
        aggregation._header_agg_exprs,
        aggregation._doc_key_expr,
    )


def _table_hash(df):
    """Order-insensitive hash of every column of every row."""
    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)]).alias("_h")
    row = df.select(h).agg(
        F.count(F.lit(1)), F.sum(F.col("_h").cast("decimal(20,0)"))
    ).first()
    return row[0], str(row[1])


def test_fold_expressions_built_once_per_session(spark):
    """The fold's Column builders are memoized per JVM gateway: a second
    consolidate_stage build reuses the cached expressions (same objects,
    a fraction of the py4j round trips), and its output hashes equal to a
    build made after the cache is cleared."""
    from poc_document_ocr_spark.operators.aggregation import (
        _field_struct,
        consolidate_auto,
        consolidate_compact,
    )
    from poc_document_ocr_spark.operators.extraction import extract_turns
    from poc_document_ocr_spark.plans.pipeline import consolidate_stage
    from poc_document_ocr_spark.schema import TRANSCRIPT_SCHEMA
    from poc_document_ocr_spark.sources.datagen import generate

    data = generate(n_convs=12, median_turns=6, seed=7, skew=False)
    ex = extract_turns(
        spark.createDataFrame(data.turns, TRANSCRIPT_SCHEMA)
    ).localCheckpoint()

    client = spark.sparkContext._gateway._gateway_client
    orig_send = client.send_command
    sent = {"n": 0}

    def counting_send(*args, **kwargs):
        sent["n"] += 1
        return orig_send(*args, **kwargs)

    def build():
        sent["n"] = 0
        client.send_command = counting_send
        try:
            out = consolidate_stage(ex, long_doc_threshold=1_000_000)
        finally:
            client.send_command = orig_send
        return out, sent["n"]

    for b in _fold_builders():
        b.cache_clear()
    cold, cold_cmds = build()
    cached = _field_struct("firstName")
    warm, warm_cmds = build()
    assert _field_struct("firstName") is cached
    assert warm_cmds * 3 < cold_cmds, (warm_cmds, cold_cmds)

    for b in _fold_builders():
        b.cache_clear()
    assert _field_struct("firstName") is not cached
    rebuilt, _ = build()
    assert warm.columns == rebuilt.columns == cold.columns
    assert _table_hash(warm) == _table_hash(rebuilt)

    # the long route (every document) still equals the compact route
    compact = consolidate_compact(ex)
    assert _table_hash(consolidate_auto(ex, threshold=0)) == \
        _table_hash(compact) == _table_hash(warm)


def test_consolidate_auto_million_contribution_conversation(spark):
    """North-rule skew guard: ONE conversation with 10⁶ field lines routes
    through the long fold and completes with exact merge-rule output. The
    long path's per-field aggregates are streaming (map-side partial), so
    no task ever buffers the million contributions at once — the only
    large object is the multi-value concat result itself."""
    from poc_document_ocr_spark.operators.aggregation import consolidate_auto

    n_turns, lines_per_turn = 2000, 500  # = 10⁶ field lines
    # distributed text construction (never a driver-side string): each turn
    # carries lines_per_turn field lines — multi-value mainCharge parts,
    # one firstName candidate per turn with a known best, one signature
    line = (
        "CASE WHEN j % 100 = 0 THEN "
        "  printf('firstName: fn-%04d [0.%03d]', id, CAST(id % 500 AS INT))"
        " WHEN j % 100 = 1 THEN 'defendantSignature: signed [0.40]'"
        " ELSE printf('mainCharge: part-%04d-%03d [0.90]', id, j) END"
    )
    ex = spark.sql(
        f"""
        SELECT 'cBIG' AS conv_id, CAST(id + 1 AS INT) AS turn_idx,
               concat_ws('\n', transform(sequence(0, {lines_per_turn - 1}),
                                         j -> {line})) AS extracted_text
        FROM range({n_turns})
        """
    )
    out = consolidate_auto(ex, threshold=10_000).collect()
    assert len(out) == 1
    r = out[0]
    assert r["turn_count"] == n_turns
    assert r["doc_key"].startswith("unknown-cBIG-")
    # FR-004 best: highest formatted confidence is 0.499 at id 499
    assert r["firstName"]["value"] == "fn-0499"
    assert r["firstName"]["confidence"] == 0.499
    # FR-005 ordered concat: every mainCharge part, newline-joined, in
    # (turn, value) order; min confidence over the parts
    parts = r["mainCharge"]["value"].split("\n")
    # 5 firstName + 5 signature lines per turn (j % 100 ∈ {0, 1}) leave
    # 490 mainCharge parts per turn
    assert len(parts) == n_turns * (lines_per_turn - 10)
    assert parts[0] == "part-0000-002"
    assert parts[-1] == "part-1999-499"
    assert r["mainCharge"]["confidence"] == 0.9
    # FR-006 OR-fold with min confidence over all contributors
    assert r["defendantSignature"]["value"] == "true"
    assert r["defendantSignature"]["confidence"] == 0.4
    assert r["sig_warnings"] == 0
