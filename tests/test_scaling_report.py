"""The scaling report is rendered from the archived campaign records
(no Spark): the committed BENCH/BASELINE.md must equal a fresh render,
so the document cannot drift from the data."""

import glob
import os

from tools import scaling_bench as sb


def test_report_renders_deterministically_and_matches_committed():
    text = sb.render_report()
    assert sb.render_report() == text
    with open(sb.REPORT) as f:
        assert f.read() == text


def test_one_table_row_per_record_each_with_a_note():
    names = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(sb.ARCHIVE, "scaling-*.json"))
    )
    records = sb.load_records()
    assert sorted(n for n, _ in records) == names
    assert all(s["note"].strip() for _, s in records)
    generated = sb.render_report().split(sb.MARKER)[1]
    rows = [line for line in generated.splitlines() if line.startswith("| `scaling-")]
    assert sorted(r.split("`")[1] for r in rows) == names


def test_criterion_passes_are_computed_from_the_records():
    passes = [e for _, e in sb.criterion_passes(sb.load_records())]
    assert sorted(passes) == sorted([0.817, 0.849, 0.815, 0.822, 0.896, 0.814, 0.812])
