"""Materialized-result cursor service.

The reference materializes each record batch as its own parquet file
under /query_results/<query_uuid>/rec_<id>.parquet
(materialize_tasks/materialize_files_task.rs:117-142) and pages results
back through a (file_idx, row_group_idx, row_idx) cursor walked
server-side with a 1000-row-group visit cap
(query_handler/query_data_handler.rs:239-571). That walk is the most
intricate code in the reference; we replace it with a row-count manifest
written once at materialization time, so a page fetch is a binary search
plus reads of only the overlapping files (and only the needed row
groups within them). At 100 TB of results the manifest stays
metadata-sized (one entry per file). A fetch decodes every row group
its page overlaps, whole; the engine writes results in row groups of at
most 10,000 rows (engine.RESULT_ROW_GROUP_ROWS, the reference's batch
size), so a page decodes one such group per file it touches, or two
where it straddles a group boundary, instead of the whole file.
"""

from __future__ import annotations

import bisect
import json
import os
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

MANIFEST_NAME = "_chdb_manifest.json"


@dataclass(frozen=True)
class ResultManifest:
    files: list[str]  # relative file names, deterministic order
    rows_per_file: list[int]
    total_rows: int
    schema_json: str

    @staticmethod
    def build(result_dir: str) -> "ResultManifest":
        names = sorted(
            f
            for f in os.listdir(result_dir)
            if f.endswith(".parquet") and not f.startswith("_")
        )
        rows = []
        schema_json = ""
        for f in names:
            md = pq.read_metadata(os.path.join(result_dir, f))
            rows.append(md.num_rows)
            if not schema_json:
                schema_json = str(pq.read_schema(os.path.join(result_dir, f)))
        return ResultManifest(
            files=names,
            rows_per_file=rows,
            total_rows=sum(rows),
            schema_json=schema_json,
        )

    def save(self, result_dir: str) -> None:
        with open(os.path.join(result_dir, MANIFEST_NAME), "w") as fh:
            json.dump(
                {
                    "files": self.files,
                    "rows_per_file": self.rows_per_file,
                    "total_rows": self.total_rows,
                    "schema": self.schema_json,
                },
                fh,
            )

    @staticmethod
    def load(result_dir: str) -> "ResultManifest":
        with open(os.path.join(result_dir, MANIFEST_NAME)) as fh:
            d = json.load(fh)
        return ResultManifest(
            files=d["files"],
            rows_per_file=d["rows_per_file"],
            total_rows=d["total_rows"],
            schema_json=d["schema"],
        )


class ResultCursor:
    """Random-access row-range reads over a materialized result dir."""

    def __init__(self, result_dir: str):
        self.result_dir = result_dir
        self.manifest = ResultManifest.load(result_dir)
        # cumulative row offsets: offsets[i] = first row index of file i
        self._offsets = [0]
        for r in self.manifest.rows_per_file:
            self._offsets.append(self._offsets[-1] + r)

    @property
    def total_rows(self) -> int:
        return self.manifest.total_rows

    def fetch(self, offset: int, limit: int) -> pa.Table:
        """Read rows [offset, offset+limit) touching only overlapping files."""
        offset = max(0, offset)
        end = min(offset + max(0, limit), self.total_rows)
        if offset >= end:
            schema = None
            if self.manifest.files:
                schema = pq.read_schema(
                    os.path.join(self.result_dir, self.manifest.files[0])
                )
            return pa.table({}) if schema is None else pa.Table.from_batches([], schema)
        first = bisect.bisect_right(self._offsets, offset) - 1
        tables = []
        i = first
        while i < len(self.manifest.files) and self._offsets[i] < end:
            file_start = self._offsets[i]
            path = os.path.join(self.result_dir, self.manifest.files[i])
            t = self._read_file_range(
                path, max(0, offset - file_start), min(end - file_start, self.manifest.rows_per_file[i])
            )
            tables.append(t)
            i += 1
        return pa.concat_tables(tables)

    @staticmethod
    def _read_file_range(path: str, start: int, stop: int) -> pa.Table:
        """Read rows [start, stop) of one file, skipping whole row groups
        outside the range (the reference's row-group walk,
        query_data_handler.rs:283, done with parquet metadata instead)."""
        f = pq.ParquetFile(path)
        groups = []
        row0 = 0
        for g in range(f.num_row_groups):
            n = f.metadata.row_group(g).num_rows
            if row0 + n > start and row0 < stop:
                groups.append((g, row0))
            row0 += n
        if not groups:
            return pa.Table.from_batches([], f.schema_arrow)
        t = f.read_row_groups([g for g, _ in groups])
        first_row = groups[0][1]
        return t.slice(start - first_row, stop - start)


class QueryDataIterator:
    """Bidirectional pager mirroring the reference TUI's data iterator
    (client/tui_query_data_iterator.rs; page size 50 at client_tui.rs:303).

    Pages form a fixed grid: page k covers rows
    [k*page_size, (k+1)*page_size). next_page serves the next page
    forward, prev_page the one before the last page served. The cursor
    is anything with `total_rows` and `fetch(offset, limit)`: a
    ResultCursor, or the server client's cursor over the wire.
    """

    def __init__(self, cursor: ResultCursor, page_size: int = 50):
        self.cursor = cursor
        self.page_size = page_size
        self._next = 0  # index of the next page to serve going forward

    def next_page(self) -> pa.Table | None:
        if self._next * self.page_size >= self.cursor.total_rows:
            return None
        t = self.cursor.fetch(self._next * self.page_size, self.page_size)
        self._next += 1
        return t

    def prev_page(self) -> pa.Table | None:
        if self._next < 2:
            return None
        self._next -= 1
        return self.cursor.fetch((self._next - 1) * self.page_size, self.page_size)
