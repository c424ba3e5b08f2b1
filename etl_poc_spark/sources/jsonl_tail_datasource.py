"""Spark 4 Python STREAMING DataSource: tail a landing directory of
immutable JSONL files (SURVEY.md §2.1 S4/S5's scan surface, streaming
form).

After `register_jsonl_tail_datasource(spark)`:

    spark.readStream.format("jsonl_tail")
         .option("path", "/landing/dir")
         .option("ddl", "doc_id long, text string")
         .load()

Offsets are the LAST CONSUMED FILENAME, not a positional index — the
per-file-atomic landing-zone contract (writers stage a file and rename
it in; the tail never sees partial files). A batch is the name range
(start.last, end.last]; files are consumed in sorted-name order and only
names strictly greater than the last consumed one are picked up. A
positional-index offset would silently shift if a file ever landed with
a name sorting BEFORE already-consumed files (re-reading consumed files
and replaying the wrong range); the name-anchored offset makes
`readBetweenOffsets` bit-identical under recovery regardless, at the
documented cost that a late-landing out-of-order name is SKIPPED —
landing zones must hand the tail monotonically increasing names
(timestamps/sequence prefixes, the standard convention).

Built on SimpleDataSourceStreamReader (driver-side reads, no partition
planning) — the right tier for control-plane-sized feeds per its own
contract; a high-throughput landing zone should use the built-in file
source instead. The value here is the OFFSET MODEL demo: deterministic
replay from a plain directory with no _spark_metadata.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import StructType

DEFAULT_DDL = "value string"


def _list_files(path: str) -> list[str]:
    try:
        names = sorted(
            n for n in os.listdir(path)
            if n.endswith(".jsonl") and not n.startswith(".")
        )
    except FileNotFoundError:
        return []
    return [os.path.join(path, n) for n in names]


class JsonlTailStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, schema: StructType, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_tail requires .option('path', <dir>)")
        self.fields = [f.name for f in schema.fields]

    def initialOffset(self) -> dict:
        # "" sorts before every real filename: consume everything
        return {"last": ""}

    def _canon(self, offset: dict) -> dict:
        """Canonicalize an offset, accepting the legacy positional form.

        Pre-name-anchored checkpoints stored {"idx": N} = "first N
        sorted files consumed". A stream restarted from one of those
        must not crash (KeyError: 'last') — translate: the name of the
        (N-1)-th currently-listed sorted file (or "" for N=0). The
        translation is exact under the same assumption the legacy
        offset itself required (no file landing with a name sorting
        before consumed ones); thereafter the checkpoint advances in
        the name-anchored form."""
        if "last" in offset:
            return offset
        if "idx" in offset:
            idx = int(offset["idx"])
            if idx <= 0:
                return {"last": ""}
            files = _list_files(self.path)
            if idx > len(files):
                raise ValueError(
                    f"legacy jsonl_tail offset idx={idx} exceeds the "
                    f"{len(files)} files present in {self.path!r}; the "
                    "landing dir no longer matches the checkpoint — "
                    "reset the checkpoint"
                )
            return {"last": os.path.basename(files[idx - 1])}
        raise ValueError(
            f"unrecognized jsonl_tail offset {offset!r}: checkpoint "
            "format changed — reset the checkpoint"
        )

    def _rows(self, files: list[str]) -> list[tuple]:
        # materialized list, not a generator: Spark's prefetch cache
        # copy.copy()s the returned iterator, which generators can't do
        out: list[tuple] = []
        for fp in files:
            with open(fp, encoding="utf-8") as fh:
                for line in fh:
                    line = line.strip()
                    if not line:
                        continue
                    rec = json.loads(line)
                    out.append(tuple(rec.get(f) for f in self.fields))
        return out

    def read(self, start: dict):
        start = self._canon(start)
        files = _list_files(self.path)
        fresh = [f for f in files if os.path.basename(f) > start["last"]]
        end = {"last": os.path.basename(fresh[-1]) if fresh else start["last"]}
        return iter(self._rows(fresh)), end

    def readBetweenOffsets(self, start: dict, end: dict):
        start, end = self._canon(start), self._canon(end)
        files = _list_files(self.path)
        batch = [
            f
            for f in files
            if start["last"] < os.path.basename(f) <= end["last"]
        ]
        return iter(self._rows(batch))


class JsonlTailDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "jsonl_tail"

    def schema(self) -> str:
        return self.options.get("ddl", DEFAULT_DDL)

    def simpleStreamReader(self, schema: StructType) -> JsonlTailStreamReader:
        return JsonlTailStreamReader(schema, self.options)


def register_jsonl_tail_datasource(spark) -> None:
    spark.dataSource.register(JsonlTailDataSource)
