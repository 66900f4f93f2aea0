"""Seeded synthetic transcript corpus plus its golden extraction.

The turns come from ``sources.datagen.generate_conv`` (one RNG per
conversation, conv 0 is the 100x skew conversation, convs 1-10 are 10x).
``generate_conv`` returns no golden, so :func:`golden` replays its RNG
sequence through the same datagen templates to recover each turn's
expected text and format, and requires the replayed payload to equal
``generate_conv``'s payload byte for byte: if the generator drifts, the
benchmark fails instead of checking against a stale golden.
"""

from __future__ import annotations

import random

from poc_document_ocr_spark.sources import datagen

MEDIAN_TURNS = 8


def _golden_conv(conv_no: int, seed: int) -> list[tuple[str, str, str]]:
    """(text, expected_text, fmt) per turn, in generate_conv's RNG order."""
    rng = random.Random(f"{seed}|{conv_no}")
    if conv_no == 0:
        n_turns = MEDIAN_TURNS * 100
    elif conv_no <= 10:
        n_turns = MEDIAN_TURNS * 10
    else:
        n_turns = max(1, int(rng.gauss(MEDIAN_TURNS, MEDIAN_TURNS / 3)))
    out = []
    for t in range(1, n_turns + 1):
        core = datagen._field_lines(rng, conv_no, t) + [
            datagen._sentence(rng, rng.randint(5, 12))
            for _ in range(rng.randint(1, 3))
        ]
        p = rng.random()
        if p < 0.4:
            text, expect = datagen._make_html(rng, core)
            fmt = "html"
        elif p < 0.7:
            text, expect = datagen._make_layout(rng, core)
            fmt = "layout"
        else:
            text, expect = datagen._make_plain(rng, core)
            fmt = "plain"
        out.append((text, expect, fmt))
    return out


def turns(n_convs: int, seed: int) -> list[tuple]:
    """Transcript rows of ``n_convs`` conversations, in shuffled order."""
    rows: list[tuple] = []
    for conv_no in range(n_convs):
        rows.extend(datagen.generate_conv(conv_no, seed=seed, median_turns=MEDIAN_TURNS))
    # the pipeline must not rely on input order
    random.Random(seed).shuffle(rows)
    return rows


def golden(n_convs: int, seed: int, rows) -> dict[tuple[str, int], tuple[str, str]]:
    """``{(conv_id, turn_idx): (extracted_text, fmt)}`` for :func:`turns`'
    rows; raises if a replayed payload differs from ``rows``."""
    text_of = {(r[0], r[1]): r[3] for r in rows}
    out: dict[tuple[str, int], tuple[str, str]] = {}
    for conv_no in range(n_convs):
        conv_id = f"conv-{seed}-{conv_no:07d}"
        for t, (text, expect, fmt) in enumerate(_golden_conv(conv_no, seed), 1):
            if text_of.get((conv_id, t)) != text:
                raise RuntimeError(f"golden replay drifted on {conv_id}/{t}")
            out[(conv_id, t)] = (expect, fmt)
    if len(out) != len(rows):
        raise RuntimeError("golden replay covers a different set of turns")
    return out


def mix(gold) -> dict[str, int]:
    """Turn count per golden format."""
    out: dict[str, int] = {}
    for _, fmt in gold.values():
        out[fmt] = out.get(fmt, 0) + 1
    return out
