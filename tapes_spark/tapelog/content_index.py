"""Content-hash-keyed index tapes — the one decide() ladder.

A derived index (LSH bucket codes, MinHash band hashes, SimHashes, IVF
cluster assignments) is a snapshot-versioned :class:`TapeTable` of
(id, content hash, codes...) rows, keyed per item by a 64-bit content
hash (D4) and incrementally maintained (D3/D5; reference analog: derived
artifacts keyed by content hash, re-derived only when dirty,
pkg/storage/postgres/derive.go:246-265, pkg/spanembed/store.go:176-180):

  * a CONFIG change (or an empty tape) triggers a full build — codes
    from different hyperplanes/permutations/quantizers are not
    comparable;
  * an item already indexed under the same content hash is skipped
    (``up_to_date`` — no codes computed);
  * a CHANGED item (same id, different hash) gets its partition
    overwritten;
  * a NEW id gets its codes appended.

Scale notes: refresh shuffles only the (id, hash) anti-join — the index
is never broadcast; the only driver-side list is the CHANGED-id set
handed to partition overwrite (bounded by the delta, not the corpus —
new ids take the append path with no driver list at all).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

from tapes_spark.tapelog.table import TapeTable


class ContentHashIndex:
    """Shared incremental maintenance.  Subclasses set ``config``,
    ``id_col`` and ``hash_col``, and provide :meth:`content_hash` and
    :meth:`_codes`; :meth:`_full_build` is the hook for work a full
    build does beyond writing codes (IVF trains its quantizer there)."""

    config: str
    id_col: str
    hash_col: str

    def __init__(self, spark: SparkSession, tape: TapeTable):
        self.spark = spark
        self.tape = tape

    def content_hash(self) -> Column:  # pragma: no cover
        raise NotImplementedError

    def _codes(self, items: DataFrame) -> DataFrame:  # pragma: no cover
        """(id, codes...) for *items* — the expensive half."""
        raise NotImplementedError

    def _stamped(self, items: DataFrame) -> DataFrame:
        return items.select(
            self.id_col, self.content_hash().alias(self.hash_col)
        )

    def _stamped_codes(self, items: DataFrame) -> DataFrame:
        """Codes with the content hash attached by an id equi-join, so the
        code stage stays (id, payload)-narrow."""
        return self._codes(items).join(self._stamped(items), self.id_col)

    def _full_build(self, items: DataFrame, lineage: dict) -> None:
        self.tape.overwrite(
            self._stamped_codes(items), {**lineage, "op": "full_build"}
        )

    def stored_config(self) -> str | None:
        snaps = self.tape.snapshots()
        if not snaps:
            return None
        return snaps[-1].get("lineage", {}).get("config")

    def _refresh(self, items: DataFrame, rebuild: bool = False) -> dict:
        """One maintenance pass; idempotent (a second call on the same
        corpus is a no-op).  Returns per-action counts."""
        lineage = {"config": self.config}
        if rebuild or self.stored_config() != self.config:
            self._full_build(items, lineage)
            return {"mode": "full", "indexed": self.tape.read().count(),
                    "up_to_date": 0, "changed": 0}
        current = self.tape.read().select(self.id_col, self.hash_col)
        todo_keys = self._stamped(items).join(
            current, [self.id_col, self.hash_col], "left_anti"
        )
        n_todo = todo_keys.count()  # anti-join only — no codes yet
        total = items.count()
        if n_todo == 0:
            return {"mode": "incremental", "indexed": 0,
                    "up_to_date": total, "changed": 0}
        # changed = ids already indexed under a DIFFERENT content hash
        changed_ids = [
            r[self.id_col]
            for r in todo_keys.join(
                current.select(self.id_col), self.id_col, "left_semi"
            ).select(self.id_col).collect()
        ]
        codes = self._stamped_codes(
            items.join(todo_keys.select(self.id_col), self.id_col, "left_semi")
        )
        if changed_ids:
            # the id type comes from the input schema: a hardcoded long
            # would fail (or type-mismatch the joins) for string ids
            changed = self.spark.createDataFrame(
                [(i,) for i in changed_ids],
                StructType([StructField(
                    self.id_col, items.schema[self.id_col].dataType
                )]),
            )
            self.tape.overwrite_partitions(
                codes.join(changed, self.id_col, "left_semi"),
                self.id_col, changed_ids,
                {**lineage, "op": "reindex_changed"},
            )
            codes = codes.join(changed, self.id_col, "left_anti")
        if n_todo > len(changed_ids):
            self.tape.append(codes, {**lineage, "op": "append_new"})
        return {
            "mode": "incremental",
            "indexed": n_todo,
            "up_to_date": total - n_todo,
            "changed": len(changed_ids),
        }
