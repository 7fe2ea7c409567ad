"""Physical-plan audits: the plans we WANT, not just plans that pass.

  * extraction normal path: zero Exchange (shuffle-free), PythonMapInArrow only,
    never BatchEvalPython (north rule: no per-row Python)
  * the mega branch is planned from parquet footer statistics: left out when
    they rule out a skew tail, kept whenever they cannot
  * relational queries: filters pushed to the parquet scan, column-pruned
    ReadSchema, broadcast joins where a side is small
"""

from __future__ import annotations

import pytest
from conftest import rows_to_tuples
from pyspark.sql import functions as F

from pdf_extract_sys_spark import corpus as C
from pdf_extract_sys_spark.pipeline import extract_corpus
from pdf_extract_sys_spark.queries import (
    q_anti_join_resume,
    q_broadcast_join_topn,
    q_pricing_summary,
)
from pdf_extract_sys_spark.schema import CORPUS_SCHEMA

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory) -> str:
    p = str(tmp_path_factory.mktemp("plan") / "corpus")
    pdf = C.generate_corpus(30, seed=3)
    spark.createDataFrame(pdf.to_dict("records"), schema=CORPUS_SCHEMA).write.parquet(p)
    return p


def test_normal_path_is_shuffle_free(spark, corpus_path):
    src = spark.read.parquet(corpus_path)
    out = extract_corpus(src, salt_threshold=10**9)  # normal path only
    plan = plan_of(out)
    # the union's mega branch is statically present but empty; the NORMAL branch
    # (scan → filter → MapInArrow, listed first under the Union) must not shuffle
    normal_part = plan.split("MapInArrow")[0]
    assert "Exchange" not in normal_part, normal_part
    assert "BatchEvalPython" not in plan


def test_no_per_row_python_full_pipeline(spark, corpus_path):
    src = spark.read.parquet(corpus_path)
    plan = plan_of(extract_corpus(src, salt_threshold=4))
    assert "BatchEvalPython" not in plan
    assert "MapInArrow" in plan


def test_mega_path_routes_in_one_arrow_pass(spark, corpus_path):
    """The mega docs' doc-level routing is computed in the MapInArrow pass that
    holds each whole doc: no classifier UDF node, no join back onto the spans,
    no per-span explode (the pass emits slices of docs), and only the two
    shuffles salting needs (the round-robin spread and the reassembly by
    doc_id)."""
    plan = plan_of(extract_corpus(spark.read.parquet(corpus_path), salt_threshold=4))
    assert "BroadcastHashJoin" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "Generate" not in plan, plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 2, plan
    assert "RoundRobinPartitioning" in exchanges[1] and "hashpartitioning(doc_id" in exchanges[0], plan


def test_pricing_summary_pushdown_and_pruning(spark):
    df = q_pricing_summary(spark, SF)
    plan = plan_of(df)
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    rs = plan.split("ReadSchema")[1][:400]
    assert "l_comment" not in rs  # untouched columns pruned away
    assert "l_quantity" in rs


def test_broadcast_join_used(spark):
    plan = plan_of(q_broadcast_join_topn(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_anti_join_is_broadcast(spark):
    plan = plan_of(q_anti_join_resume(spark, SF))
    assert "LeftAnti" in plan


def test_no_per_row_python_in_any_registry_query(spark):
    """Every registered query's executed plan: PythonMapInArrow / ArrowEvalPython /
    FlatMapGroupsInPandas only — never BatchEvalPython (north rule)."""
    from pdf_extract_sys_spark.queries import REGISTRY

    for name, (fn, _sql) in REGISTRY.items():
        plan = plan_of(fn(spark, SF))
        assert "BatchEvalPython" not in plan, f"{name} has per-row Python:\n{plan[:2000]}"


def test_minhash_signatures_plan_is_pure_map(spark):
    """Hash-once + shuffle-free BY KEY: the shingle hashing runs inside ONE
    vectorized Arrow kernel (r6, guide §4.2 — no JVM-side md5 left in the
    plan, exactly one MapInArrow, never BatchEvalPython), and the only
    Exchange permitted is the conditional round-robin _spread parallelism
    floor (per-shingle hashing is compute-bound, so partition count must come
    from the compute, not the dimension-scale input bytes — guide §2/§6).
    The signature computation itself never shuffles rows by key: no
    hash/range partitioning anywhere."""
    from pdf_extract_sys_spark.queries import q_minhash_signatures

    plan = plan_of(q_minhash_signatures(spark, SF))
    assert "md5" not in plan, plan
    assert plan.count("MapInArrow") == 1, plan
    assert "BatchEvalPython" not in plan, plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert all("RoundRobinPartitioning" in ln for ln in exchanges), plan
    assert len(exchanges) <= 1, plan
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_lsh_pairs_materialized_once_and_shared(spark):
    """Candidate pairs are eagerly localCheckpoint'ed: the returned plan is a
    lineage-truncated RDD scan (zero md5 — the shingle→minhash pipeline cannot
    re-run downstream), and the three consumers share ONE materialization per
    (app, sf_dir, band_cap)."""
    from pdf_extract_sys_spark.queries import lsh_candidate_pairs, q_minhash_lsh_pairs

    df = q_minhash_lsh_pairs(spark, SF)
    plan = plan_of(df)
    assert "ExistingRDD" in plan, plan
    assert "md5" not in plan, plan
    # memoized: same object handed to every consumer in this application
    assert lsh_candidate_pairs(spark, SF) is df


def test_size_col_routing_matches_default_and_prunes(spark, tmp_path):
    """The n_spans stats column (write_corpus_parquet) must (a) route
    identically to size(spans), and (b) reach the parquet scan as a pushed
    filter so row-group stats prune the mega-side scans (the 100 TB skew-
    routing pattern)."""
    from pdf_extract_sys_spark.corpus import write_corpus_parquet

    p = str(tmp_path / "stats_corpus")
    pdf = C.generate_corpus(60, seed=7, mega_doc_every=20, mega_doc_pages=12)
    write_corpus_parquet(pdf, p, n_files=4, row_group_size=8)
    src = spark.read.parquet(p)
    a = extract_corpus(src, salt_threshold=8)
    b = extract_corpus(src, salt_threshold=8, size_col="n_spans")

    def norm(df):
        rows = df.collect()
        return sorted(
            (r["doc_id"], r["n_spans"], r["parse_failed"], r["bytes_in"],
             tuple((s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]))
            for r in rows
        )

    assert norm(a) == norm(b)
    plan = plan_of(b)
    assert "PushedFilters" in plan and "n_spans" in plan


# ---------------------------------------------------------------------------
# the plan chosen from parquet footer statistics of the size column
# ---------------------------------------------------------------------------

MEGA_THRESHOLD = 8  # spans; _mega_corpus() has one doc over it (14), the rest ≤ 6


def _span_rows(df) -> dict:
    return {r["doc_id"]: rows_to_tuples(r["spans"]) for r in df.collect()}


def _mega_corpus():
    return C.generate_corpus(32, seed=5, mega_doc_every=32, mega_doc_pages=12)


def _is_direct(plan: str) -> bool:
    """One scan, no shuffle, one Arrow map, no per-row Python."""
    return (plan.count("FileScan") == 1 and "Exchange" not in plan
            and plan.count("MapInArrow") == 1 and "BatchEvalPython" not in plan)


def _is_union(plan: str) -> bool:
    """Today's plan: the normal path unioned with the salted mega path."""
    return "Union" in plan and len([ln for ln in plan.splitlines() if "Exchange" in ln]) == 2


def _write(pdf, path: str, n_spans=None, **kw) -> str:
    """pdf (doc_id, spans) → one parquet file of 8-row row groups, with an
    ``n_spans`` column (the true span counts unless given)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_extract_sys_spark.schema import CORPUS_ARROW

    os.makedirs(path, exist_ok=True)
    tbl = pa.Table.from_pydict({
        "doc_id": pa.array(pdf["doc_id"].tolist(), pa.string()),
        "spans": pa.array(pdf["spans"].tolist(), CORPUS_ARROW.field("spans").type),
        "n_spans": pa.array(n_spans or [len(x) for x in pdf["spans"]], pa.int32()),
    })
    pq.write_table(tbl, f"{path}/part-0.parquet", row_group_size=8, **kw)
    return path


def test_footer_stats_without_tail_plan_one_scan(spark, tmp_path):
    pdf = C.generate_corpus(30, seed=3)
    assert max(map(len, pdf["spans"])) <= MEGA_THRESHOLD
    src = spark.read.parquet(_write(pdf, str(tmp_path / "c")))
    out = extract_corpus(src, salt_threshold=MEGA_THRESHOLD, size_col="n_spans")
    assert _is_direct(plan_of(out)), plan_of(out)
    salted = extract_corpus(src, salt_threshold=0, salted_parallelism=3)
    assert _is_union(plan_of(salted))
    assert _span_rows(out) == _span_rows(salted)


def test_one_row_group_over_threshold_keeps_mega_branch(spark, tmp_path):
    import pyarrow.parquet as pq

    pdf = _mega_corpus()
    path = _write(pdf, str(tmp_path / "c"))
    md = pq.read_metadata(f"{path}/part-0.parquet")
    n_spans = md.num_columns - 1  # the last leaf column
    highs = [md.row_group(g).column(n_spans).statistics.max for g in range(md.num_row_groups)]
    assert sum(h > MEGA_THRESHOLD for h in highs) == 1, highs
    out = extract_corpus(spark.read.parquet(path), salt_threshold=MEGA_THRESHOLD,
                         size_col="n_spans")
    assert _is_union(plan_of(out)), plan_of(out)


def test_file_without_statistics_keeps_mega_branch(spark, tmp_path):
    path = _write(C.generate_corpus(30, seed=3), str(tmp_path / "c"), write_statistics=False)
    out = extract_corpus(spark.read.parquet(path), salt_threshold=MEGA_THRESHOLD,
                         size_col="n_spans")
    assert _is_union(plan_of(out)), plan_of(out)


def test_in_memory_corpus_keeps_mega_branch(spark, tmp_path):
    src = spark.read.parquet(_write(C.generate_corpus(30, seed=3), str(tmp_path / "c")))
    mem = spark.createDataFrame(src.collect(), src.schema)
    out = extract_corpus(mem, salt_threshold=MEGA_THRESHOLD, size_col="n_spans")
    assert _is_union(plan_of(out)), plan_of(out)


def test_under_reported_size_column_changes_only_the_plan(spark, tmp_path):
    """An n_spans column that hides a real mega doc makes the footers rule out
    the tail: the mega doc is extracted unsalted, and the output is still the
    oracle's — routing is a performance choice only."""
    from oracle import oracle_extract_corpus

    pdf = _mega_corpus()
    assert max(map(len, pdf["spans"])) > MEGA_THRESHOLD
    path = _write(pdf, str(tmp_path / "c"), n_spans=[1] * len(pdf))
    out = extract_corpus(spark.read.parquet(path), salt_threshold=MEGA_THRESHOLD,
                         size_col="n_spans")
    assert _is_direct(plan_of(out)), plan_of(out)
    want = oracle_extract_corpus(pdf.to_dict("records"))
    assert _span_rows(out) == {d: rows_to_tuples(spans) for d, spans in want.items()}
