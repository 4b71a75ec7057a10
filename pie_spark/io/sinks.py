"""S5: triple sink — bucketed on doc_id (SURVEY.md §2.1 S5; north_rule
BASELINE.json:14 "explicit bucketed partitioning on doc_id").

Layout (Parquet-manifest fallback; Iceberg mapping in the docstring of
pie_spark.io.snapshots):

    <out>/triples/snap-<token>/pred=<P>/part-*.parquet   (token: 8 hex chars)

* ``repartition(buckets, doc_id)`` hash-buckets rows so all triples of
  one document land in one task/file — the Iceberg equivalent is
  ``partitionedBy(bucket(N, "doc_id"))``. A downstream per-doc join or
  resume scan touches one bucket, not the table.
* ``partitionBy("pred")`` adds the low-cardinality predicate as a
  directory partition → predicate-family scans prune directories.
* The write and the lineage rows commit together in ONE snapshot
  (manifest-last atomicity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


from pie_spark.io.snapshots import SnapshotTable


def write_triples(
    table: SnapshotTable,
    triples: DataFrame,
    lineage: DataFrame,
    buckets: int,
    meta: dict | None = None,
) -> int:
    bucketed = triples.repartition(buckets, "doc_id").sortWithinPartitions(
        "doc_id", "pred", "subj", "obj"
    )
    sid_meta = dict(meta or {})
    sid_meta["buckets"] = buckets
    return table.commit_partitioned(
        {"triples": (bucketed, ["pred"]), "lineage": (lineage, [])}, meta=sid_meta
    )


def write_sorted(
    df: DataFrame,
    out_dir: str,
    sort_cols: list[str],
    num_files: int,
    max_records_per_file: int = 0,
) -> None:
    """O4: range-partitioned globally-sorted layout writer.

    100 TB tables are read many more times than written; a layout
    sorted on the dominant filter/join key turns full scans into
    pruned ones (parquet row-group min/max stats line up with the
    predicate) and merge joins into zero-shuffle ones. This is the
    Spark-native equivalent of a clustered/z-ordered rewrite for the
    single-key case:

    * ``repartitionByRange`` samples the key distribution and cuts
      BALANCED ranges (a hash layout would scatter the key; a naive
      ``orderBy`` collapses to one task at write time) — skewed keys
      get more files, empty ranges none.
    * ``sortWithinPartitions`` orders inside each range → the files
      are GLOBALLY sorted end-to-end (range i's max ≤ range i+1's
      min), verified by tests/test_sources.py over the written files.
    * ``maxRecordsPerFile`` bounds file size without another shuffle —
      the row-group pruning granularity knob.

    Determinism note: range boundaries come from Spark's reservoir
    sample, so FILE SPLITS may vary across runs — the row SET and the
    within/between-file ordering contract do not (asserted, not
    assumed). For bit-stable file splits use the bucketed writer above.
    """
    shaped = df.repartitionByRange(num_files, *sort_cols).sortWithinPartitions(
        *sort_cols
    )
    w = shaped.write.mode("overwrite")
    if max_records_per_file > 0:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.parquet(out_dir)
