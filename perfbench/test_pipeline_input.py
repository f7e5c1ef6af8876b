"""A generated rebuild input passes the pipeline's invariant checks.

    python -m pytest perfbench/test_pipeline_input.py

``rebuild`` runs its eager checks (parent-discipline mismatch, institution
country match) while it builds the tables; the cheap tables are counted
against ``expected_rows``. Writing every table is the benchmark's job.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pipeline_input import expected_rows, generate_pipeline_input  # noqa: E402

CHEAP = ("Round", "Call", "Country", "Discipline", "SpecificDiscipline", "Output",
         "Category", "Institution", "InstallationFacility", "AccessRequest")


@pytest.fixture(scope="module")
def spark():
    from synth_transform_spark.session import get_spark

    return get_spark("perfbench-tests")


def test_generation_is_seeded(tmp_path):
    a = generate_pipeline_input(str(tmp_path / "a"), seed=7, blocks=2)
    b = generate_pipeline_input(str(tmp_path / "b"), seed=7, blocks=2)
    assert a == b and a["T_List_of_UserProjects"] == 18
    for sub in ("sources", "resources"):
        for name in os.listdir(tmp_path / "a" / sub):
            with open(tmp_path / "a" / sub / name, "rb") as fa, open(tmp_path / "b" / sub / name, "rb") as fb:
                assert fa.read() == fb.read(), name


def test_generated_input_rebuilds(spark, tmp_path):
    from synth_transform_spark.cli import RESOURCE_TABLES, SOURCE_TABLES, WORKBOOK_SHEETS
    from synth_transform_spark.pipeline.rebuild import rebuild
    from synth_transform_spark.pipeline.steps import Resources

    blocks = 2
    generate_pipeline_input(str(tmp_path), seed=3, blocks=blocks)
    read = lambda sub, t: spark.read.parquet(str(tmp_path / sub / f"{t}.parquet"))  # noqa: E731
    sources = {t: read("sources", t) for t in SOURCE_TABLES}
    res = Resources(
        workbook={s: read("resources", f"workbook_{s}") for s in WORKBOOK_SHEETS},
        **{t: read("resources", t) for t in RESOURCE_TABLES},
    )
    tables, _ctx = rebuild(sources, res)
    expected = expected_rows(blocks)
    assert set(tables) == set(expected)
    assert {t: tables[t].count() for t in CHEAP} == {t: expected[t] for t in CHEAP}
