"""Materialized-result cursor service.

The reference materializes each record batch as its own parquet file
under /query_results/<query_uuid>/rec_<id>.parquet
(materialize_tasks/materialize_files_task.rs:117-142) and pages results
back through a (file_idx, row_group_idx, row_idx) cursor walked
server-side with a 1000-row-group visit cap
(query_handler/query_data_handler.rs:239-571). That walk is the most
intricate code in the reference; we replace it with a row-count manifest
written once at materialization time, so a page fetch is a binary search
over files, then over the row groups of the files it overlaps. At
100 TB of results the manifest stays metadata-sized (one entry per
file).

The engine writes results in row groups of at most 10,000 rows
(engine.RESULT_ROW_GROUP_ROWS, the reference's batch size) and keeps
one cursor per complete result. A cursor reads each file's footer once,
at the first fetch that touches the file, and decodes whole row groups
into the engine's RowGroupCache, an LRU bounded by the decoded tables'
bytes (engine.RESULT_CACHE_BYTES). A page is then a zero-copy slice of
the cached groups it overlaps, so a walk of 50-row pages decodes each
group once instead of once per page.
"""

from __future__ import annotations

import bisect
import json
import os
import threading
from collections import OrderedDict
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
                schema_json = str(md.schema.to_arrow_schema())
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


class RowGroupCache:
    """Decoded row groups shared by the cursors of one engine: an LRU
    keyed (result dir, file index, group index) and bounded by the
    tables' `nbytes`. The lock covers lookups and inserts, never a
    decode, so pagers of different groups decode in parallel; two
    pagers that miss on one group both decode it and the second insert
    is dropped."""

    def __init__(self, max_bytes: int):
        self.max_bytes = max_bytes
        self.nbytes = 0
        self._groups: OrderedDict[tuple, tuple[pa.Table, int]] = OrderedDict()
        self._lock = threading.Lock()

    def get(self, key: tuple) -> pa.Table | None:
        with self._lock:
            entry = self._groups.get(key)
            if entry is None:
                return None
            self._groups.move_to_end(key)
            return entry[0]

    def put(self, key: tuple, table: pa.Table) -> None:
        size = table.nbytes
        with self._lock:
            if size > self.max_bytes or key in self._groups:
                return
            self._groups[key] = (table, size)
            self.nbytes += size
            while self.nbytes > self.max_bytes:
                self.nbytes -= self._groups.popitem(last=False)[1][1]

    def drop(self, result_dir: str) -> None:
        """Forget every group of one result."""
        with self._lock:
            for key in [k for k in self._groups if k[0] == result_dir]:
                self.nbytes -= self._groups.pop(key)[1]


class ResultCursor:
    """Random-access row-range reads over a materialized result dir.

    `manifest` defaults to the one saved in `result_dir`. Without a
    `cache` every fetch decodes the row groups it overlaps; with one,
    decoded groups are kept there until evicted or `close`."""

    def __init__(
        self,
        result_dir: str,
        manifest: ResultManifest | None = None,
        cache: RowGroupCache | None = None,
    ):
        self.result_dir = result_dir
        self.manifest = manifest or ResultManifest.load(result_dir)
        self._cache = cache
        self._closed = False
        # cumulative row offsets: offsets[i] = first row index of file i
        self._offsets = [0]
        for r in self.manifest.rows_per_file:
            self._offsets.append(self._offsets[-1] + r)
        # per file, read at its first fetch: (footer, group row offsets)
        self._footers: list[tuple[pq.FileMetaData, list[int]] | None] = [
            None
        ] * len(self.manifest.files)

    @property
    def total_rows(self) -> int:
        return self.manifest.total_rows

    def fetch(self, offset: int, limit: int) -> pa.Table:
        """Read rows [offset, offset+limit) touching only overlapping
        files and row groups."""
        offset = max(0, offset)
        end = min(offset + max(0, limit), self.total_rows)
        if offset >= end:
            if not self.manifest.files:
                return pa.table({})
            return self._footer(0)[0].schema.to_arrow_schema().empty_table()
        pieces = []
        i = bisect.bisect_right(self._offsets, offset) - 1
        while i < len(self.manifest.files) and self._offsets[i] < end:
            start = max(0, offset - self._offsets[i])
            stop = min(end - self._offsets[i], self.manifest.rows_per_file[i])
            starts = self._footer(i)[1]
            g = bisect.bisect_right(starts, start) - 1
            while g < len(starts) - 1 and starts[g] < stop:
                lo = max(start, starts[g]) - starts[g]
                hi = min(stop, starts[g + 1]) - starts[g]
                pieces.append(self._group(i, g).slice(lo, hi - lo))
                g += 1
            i += 1
        return pa.concat_tables(pieces)

    def close(self) -> None:
        """Drop this result's cached groups and cache no more of them."""
        self._closed = True
        if self._cache is not None:
            self._cache.drop(self.result_dir)

    def _footer(self, i: int) -> tuple[pq.FileMetaData, list[int]]:
        footer = self._footers[i]
        if footer is None:
            md = pq.read_metadata(os.path.join(self.result_dir, self.manifest.files[i]))
            starts = [0]
            for g in range(md.num_row_groups):
                starts.append(starts[-1] + md.row_group(g).num_rows)
            footer = self._footers[i] = (md, starts)
        return footer

    def _group(self, i: int, g: int) -> pa.Table:
        """Row group g of file i, decoded whole (the reference's
        row-group walk, query_data_handler.rs:283, done with parquet
        metadata instead)."""
        key = (self.result_dir, i, g)
        table = self._cache.get(key) if self._cache is not None else None
        if table is None:
            path = os.path.join(self.result_dir, self.manifest.files[i])
            with pq.ParquetFile(path, metadata=self._footer(i)[0]) as pf:
                table = pf.read_row_groups([g])
            if self._cache is not None:
                self._cache.put(key, table)
                # a close() that ran during the decode has already
                # dropped this result's groups: drop the late insert too
                if self._closed:
                    self._cache.drop(self.result_dir)
        return table


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
