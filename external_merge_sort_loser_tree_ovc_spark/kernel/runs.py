"""External run store: spill files, size-ordered manifest, checkpoint/resume.

Plays the role of the reference's ``HDD`` (reference ``HDD.h:8-31``):

- sorted runs are kept ORDERED BY SIZE ASCENDING so smaller runs merge
  first (reference ``HDD.cpp:14-27``, ``README.md:9``),
- ``spill_rows`` counts every row ever written to the store (reference
  ``HDD.cpp:83-90``),
- unlike the reference's in-process vectors, runs are real compressed
  lz4-compressed Arrow IPC files on local disk (the executor-local
  spill path at cluster scale),
- a run file is a sequence of pages: one IPC record batch per table
  chunk the writer hands in (the sorter writes ``batch_rows`` pages), and
  a ``PageCursor`` reads it back one page at a time (the reference's
  per-run page buffer, ``DRAM.cpp:551-596``); a merge reads only the key
  columns whole (``read_run(columns=...)``),
- the manifest is a JSON checkpoint committed by atomic rename: the
  run list, spill count and input fingerprint.  A partition that died
  mid-merge resumes from the last committed run list instead of
  re-sorting its input (the north_rule's "resumable from checkpoint");
  per-partition metrics travel on the ``sort_metrics`` accumulator.
"""

from __future__ import annotations

import itertools
import json
import os
import uuid
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.ipc as ipc


@dataclass
class RunInfo:
    path: str
    rows: int
    generation: int = 0
    seq: int = 0  # creation order: deterministic tie-break for equal sizes


@dataclass
class RunStore:
    root: str
    spill_rows: int = 0
    runs: list[RunInfo] = field(default_factory=list)
    next_seq: int = 0
    # manifest may live above root (staging stores commit into the
    # partition dir so a later resume finds one canonical manifest)
    manifest_dir: str | None = None

    def __post_init__(self):
        os.makedirs(self.root, exist_ok=True)

    # -- spill ---------------------------------------------------------------
    def write_run(
        self, tables: pa.Table | Iterable[pa.Table], generation: int = 0
    ) -> RunInfo:
        """Spill one sorted run from a table or a non-empty stream of
        tables (a merge writes its output as it goes); every table chunk
        becomes one page."""
        if isinstance(tables, pa.Table):
            tables = [tables]
        it = iter(tables)
        first = next(it)
        seq = self.next_seq
        self.next_seq += 1
        path = os.path.join(self.root, f"run-{seq:06d}-{uuid.uuid4().hex}.arrow")
        tmp = path + ".tmp"
        # codec choice, measured on text-heavy pages (see BASELINE.md):
        # lz4 decodes ~5x cheaper and wins when every core is busy
        # (32-way flagship best: lz4 11.2s vs zstd 17.0s sort); zstd
        # writes ~2.3x fewer bytes (5.9 -> 2.5 MB per 30k pages) and
        # won only the bandwidth-starved low-core runs.  CPU is usually
        # the binding resource at full executor occupancy, so lz4.
        opts = ipc.IpcWriteOptions(compression="lz4")
        rows = 0
        with ipc.new_file(tmp, first.schema, options=opts) as w:
            for t in itertools.chain([first], it):
                w.write_table(t)
                rows += t.num_rows
        os.rename(tmp, path)
        info = RunInfo(path=path, rows=rows, generation=generation, seq=seq)
        self.spill_rows += rows
        # size-ascending order (HDD.cpp:14-27); ties broken by creation
        # order so merge order (and thus comparison counts) is
        # DETERMINISTIC — a uuid-name tie-break reshuffled equal-size
        # runs and made col_compares vary run to run
        self.runs.append(info)
        self.runs.sort(key=lambda r: (r.rows, r.seq))
        return info

    def read_run(self, info: RunInfo, columns: list[str] | None = None) -> pa.Table:
        """The whole run, or only ``columns`` of it (the other columns'
        buffers are never read).  Regular file reads, not a memory map:
        mapped pages would count in the worker's RSS."""
        with pa.OSFile(info.path) as f:
            opts = None
            if columns is not None:
                names = ipc.open_file(f).schema.names
                opts = ipc.IpcReadOptions(
                    included_fields=[names.index(c) for c in columns]
                )
            tbl = ipc.open_file(f, options=opts).read_all()
        return tbl if columns is None else tbl.select(columns)

    def open_run(self, info: RunInfo) -> "PageCursor":
        f = pa.OSFile(info.path)
        try:
            r = ipc.open_file(f)
        except BaseException:
            f.close()
            raise
        pages = (r.get_batch(i) for i in range(r.num_record_batches))
        return PageCursor(r.schema, pages, f.close)

    def remove_runs(self, infos: list[RunInfo]):
        for info in infos:
            self.runs.remove(info)
            try:
                os.remove(info.path)
            except OSError:
                pass

    # -- checkpoint ----------------------------------------------------------
    def manifest_path(self) -> str:
        return os.path.join(self.manifest_dir or self.root, "manifest.json")

    def commit(self, extra: dict | None = None):
        doc = {
            "spill_rows": self.spill_rows,
            "runs": [
                {
                    "path": r.path,
                    "rows": r.rows,
                    "generation": r.generation,
                    "seq": r.seq,
                }
                for r in self.runs
            ],
        }
        if extra:
            doc.update(extra)
        tmp = self.manifest_path() + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(doc, f)
        os.replace(tmp, self.manifest_path())

    @classmethod
    def load(cls, root: str) -> tuple["RunStore", dict] | None:
        """Resume a store from its committed manifest, or None."""
        mp = os.path.join(root, "manifest.json")
        if not os.path.exists(mp):
            return None
        with open(mp) as f:
            doc = json.load(f)
        store = cls(root=root, spill_rows=doc.get("spill_rows", 0))
        runs = []
        for r in doc.get("runs", []):
            if not os.path.exists(r["path"]):
                return None  # torn state: fall back to full recompute
            runs.append(
                RunInfo(
                    path=r["path"],
                    rows=r["rows"],
                    generation=r.get("generation", 0),
                    seq=r.get("seq", 0),
                )
            )
        store.runs = runs
        store.next_seq = 1 + max((r.seq for r in runs), default=-1)
        return store, doc


class PageCursor:
    """Sequential reader over one run's pages: ``read(n)`` returns the
    next ``n`` rows and holds at most one decoded page.  Pages may have
    any size (a run written as one batch is one page)."""

    def __init__(
        self,
        schema: pa.Schema,
        pages: Iterator[pa.RecordBatch],
        close: Callable[[], None] | None = None,
    ):
        self.schema = schema
        self._pages = pages
        self._page: pa.RecordBatch | None = None
        self._pos = 0
        self._close = close

    @classmethod
    def of_table(cls, table: pa.Table) -> "PageCursor":
        return cls(table.schema, iter(table.to_batches()))

    def read(self, n: int) -> pa.Table:
        out = []
        while n > 0:
            if self._page is None or self._pos == self._page.num_rows:
                self._page = next(self._pages)
                self._pos = 0
            k = min(n, self._page.num_rows - self._pos)
            out.append(self._page.slice(self._pos, k))
            self._pos += k
            n -= k
        return pa.Table.from_batches(out, self.schema)

    def close(self):
        self._page = None
        if self._close is not None:
            self._close()
