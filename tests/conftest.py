from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parents[0]))
sys.path.insert(0, str(HERE))


@pytest.fixture(scope="session")
def goldens() -> dict:
    return json.loads((HERE / "fixtures" / "goldens.json").read_text())


@pytest.fixture(scope="session")
def goldens_seed42() -> dict:
    return json.loads((HERE / "fixtures" / "goldens_seed42.json").read_text())


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("pdf-extract-sys-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield spark
    spark.stop()


def rows_to_tuples(spans) -> list[tuple]:
    """Normalize span rows (Row / dict / list) to (kind, text, media_ref, offset)."""
    out = []
    for s in spans:
        if hasattr(s, "asDict"):
            s = s.asDict()
        if isinstance(s, dict):
            out.append((s["kind"], s["text"], s["media_ref"], s["offset"]))
        else:
            out.append((s[0], s[1], s[2], s[3]))
    return out


def assert_no_per_row_python(df) -> None:
    """North-rule audit: the physical plan must not contain BatchEvalPython
    (row-at-a-time Python UDF). Allowed: PythonMapInArrow, ArrowEvalPython,
    FlatMapGroupsInPandas."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "BatchEvalPython" in plan:
        raise AssertionError("per-row Python (BatchEvalPython) found in plan:\n" + plan)


def golden_tuples(golden_spans: list[list]) -> list[tuple]:
    return [tuple(s) for s in golden_spans]


def extract_rows(docs: list[dict]) -> list[dict]:
    """Docs ({doc_id, spans: [span dicts]}) through the production mapInArrow
    function as ONE CORPUS_ARROW batch → the EXTRACTED rows as dicts, in input
    order."""
    import pyarrow as pa

    from pdf_extract_sys_spark.extract import extract_map_in_arrow
    from pdf_extract_sys_spark.schema import CORPUS_ARROW

    batch = pa.RecordBatch.from_pylist(
        [{"doc_id": d["doc_id"], "spans": d["spans"]} for d in docs], schema=CORPUS_ARROW
    )
    return [r for b in extract_map_in_arrow(iter([batch])) for r in b.to_pylist()]
