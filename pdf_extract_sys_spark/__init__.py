"""pdf_extract_sys_spark — a PySpark-native main-content extraction engine.

A from-scratch, Spark-first rebuild of the per-document extraction semantics of
``Sheikh-JamirAlam/pdf-extract-sys`` (reference: ``backend/app/main.py``), re-expressed
as a distributed batch dataflow over tables of interleaved text + media documents:

    corpus(doc_id STRING,
           spans ARRAY<STRUCT<kind STRING, text STRING, media_ref STRING, offset INT>>)

Extraction runs as vectorized pandas/Arrow code inside ``mapInArrow``: one pass
over the scanned docs on the normal path; on the salted mega-doc path a pass
that routes each doc and cuts it into reading-order slices, a round-robin
repartition, the same extraction pass over the slices and a ``groupBy(doc_id)``
reassembly. No per-row Python appears in the Spark plan (its Python nodes are
``MapInArrow``, never ``BatchEvalPython``).

Modules:
  - ``schema``        — explicit StructTypes for corpus / checkpoint / metrics tables
  - ``kernels.*``     — pure-pandas vectorized extraction kernels (unit-testable, no Spark)
  - ``extract``       — per-Arrow-batch orchestration of the kernels + sentinel totality
  - ``pipeline``      — the Spark plan: mega-doc routing, salting, reassembly
  - ``checkpoint``    — checkpoint table, resume planned from it, per-partition lineage+metrics
  - ``streaming``     — incremental extraction over a file stream, one progress row per epoch
  - ``queries``       — the query registry: Spark programs paired with DuckDB SQL oracles
  - ``functions``     — column functions for media bytes (container sniffing, decoders)
  - ``sources``       — front-ends turning raw PDF bytes into the corpus span encoding
  - ``corpus``        — deterministic synthetic corpus generator (fixtures + bench slices)
  - ``job``           — spark-submit entrypoint
"""

__version__ = "0.1.0"
