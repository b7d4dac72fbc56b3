"""Benchmark-local tests: seeded inputs and the medallion reference check.

    python3 -m pytest perfbench -q

No Spark: the generators and the DuckDB reference are pure Python.
"""

from __future__ import annotations

import filecmp
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import datagen  # noqa: E402
import reference  # noqa: E402


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _inputs(tmp_path, name: str, seed: int) -> dict[str, bytes]:
    root = tmp_path / name
    datagen.write_sf_tables(str(root / "sf"), seed, sf=0.001)
    for drop in datagen.population_drops(seed, 6):
        datagen.render_drop(drop, str(root / "raw"))
    return _tree(str(root))


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b = _inputs(tmp_path, "a", 7), _inputs(tmp_path, "b", 7)
    assert sorted(a) == sorted(b)
    assert all(a[k] == b[k] for k in a)
    assert any(k.endswith(".pdf") for k in a) and any(k.endswith(".parquet") for k in a)
    assert not filecmp.dircmp(tmp_path / "a", tmp_path / "b").diff_files


def test_different_seed_gives_different_inputs(tmp_path):
    a, b = _inputs(tmp_path, "a", 7), _inputs(tmp_path, "b", 8)
    tables = [k for k in a if k.endswith(".parquet")]
    assert all(a[k] != b[k] for k in tables if not k.endswith(("region.parquet", "nation.parquet")))
    assert datagen.population_drops(7, 10) != datagen.population_drops(8, 10)


def test_drops_have_the_messy_shapes():
    drops = datagen.population_drops(3, 40)
    rows = [r for d in drops for pdf in d.pdf_rows for r in pdf]
    assert any(d.rev > 0 for d in drops)  # re-deliveries
    assert sum(r[0] == "Total" for r in rows) == 2 * len(drops)  # one footer per PDF
    data = [r for r in rows if r[0] != "Total"]
    junk = sum(r[2] in datagen.JUNK_GMUS for r in data) / len(data)
    unnamed = sum(r[1] == "" for r in data) / len(data)
    assert 0.02 < junk < 0.1 and 0.1 < unnamed < 0.3


def _state(n_drops: int = 30):
    """The drops and the reference state after all of them."""
    drops = datagen.population_drops(5, n_drops)
    ref = reference.PopulationReference()
    for d in drops:
        ref.apply(d)
    return drops, ref.rows()


def test_reference_keeps_first_herd_name_and_gates_junk():
    drops, rows = _state()
    first = {}
    for d in drops:
        for pdf in d.pdf_rows:
            for dau, herd, gmus, _, _ in pdf[:-1]:
                name = herd or f"DAU_{dau}"
                if gmus and all(ch in "0123456789 ," for ch in gmus):
                    for u in gmus.split(","):
                        first.setdefault((d.state, d.species, d.year, int(u)), name)
    got = {(r[0], r[1], r[5], r[6]): r[2] for r in rows}
    assert got == first  # every gated unit, named as first delivered


def test_check_accepts_the_reference_state():
    _, rows = _state()
    assert reference.check_production(list(rows), rows) is None


def test_check_rejects_overwritten_herd_name():
    _, rows = _state()
    bad = list(rows)
    r = bad[0]
    bad[0] = (r[0], r[1], r[2] + " (revised)", *r[3:])
    assert reference.check_production(bad, rows) is not None


def test_check_rejects_exploded_junk_row():
    drops, rows = _state()
    keys = {(r[0], r[1], r[5], r[6]) for r in rows}
    d = drops[0]
    # "3,4a" would explode to unit 3: add that row where it is not a key
    unit = next(u for u in (3, 4) if (d.state, d.species, d.year, u) not in keys)
    bad = list(rows) + [(d.state, d.species, "DAU_X-1", 100, 10.0, d.year, unit)]
    assert reference.check_production(bad, rows) is not None


def test_check_rejects_duplicate_key():
    _, rows = _state()
    bad = list(rows) + [rows[0]]
    assert "duplicate" in reference.check_production(bad, rows)


@pytest.mark.xfail(strict=True, reason=(
    "sources.minipdf.extract_pdf_cells bins columns per page by the x "
    "positions present on that page, so a page where one column is blank "
    "on every row shifts the later columns left"
))
def test_extractor_keeps_columns_on_a_page_with_a_blank_column():
    from bow_hunter_pipeline_spark.sources.minipdf import extract_pdf_cells, write_pdf

    header = datagen.HEADERS["elk"]
    page2 = [["E-2", "", "7,8", "1,200", "40.0"], ["Total", "", "7,8", "1,200", ""]]
    cells = extract_pdf_cells(write_pdf([[header, ["E-1", "Bear Creek", "5", "900", "35.5"]], page2]))
    gmus = {(page, row): text for page, row, col, text in cells if col == 3}
    assert gmus[(2, 1)] == "7,8"
