"""`html_roster` — a PySpark Python Data Source (Spark 4 DataSource API)
wrapping the HTML roster reader, so the corpus reads as a first-class
format:

    spark.dataSource.register(HtmlRosterDataSource)
    df = spark.read.format("html_roster").load("/data/diplom/fabric*.html")

SURVEY.md §4 lists a DataSource implementation as the natural upgrade of
the S2 `mapInPandas` reader ("nice-to-have; mapInPandas suffices").  Both
paths share ONE parser body (`html_table._emit_file_rows`), so row
semantics are pinned by the same golden tests; what the source adds:

* **partition = file**: `partitions()` returns one `InputPartition` per
  matched file, so scan parallelism equals corpus size with no
  driver-side content reads (files open executor-side in `read()`), and
  the per-file row order the downstream windows rely on (W1-W4) holds
  within each partition by construction.
* **catalog ergonomics**: the format string composes with
  `spark.read.load`, schema is declared (never inferred), and readers
  that only need a column subset still parse once per file (HTML is not
  column-prunable — the docstring, not the plan, states that honestly).

At 100 TB the same shape holds: the file listing is driver-side
metadata; content I/O and parsing are fully distributed, one task per
document file.
"""

from __future__ import annotations

import glob as _glob
import os as _os
import warnings as _warnings
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from .html_table import READER_SCHEMA, _emit_file_rows, roster_file_year

_FIELD_ORDER = [f.name for f in READER_SCHEMA.fields]


class _RosterFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class HtmlRosterReader(DataSourceReader):
    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("html_roster requires a path, e.g. .load('/dir/fabric*.html')")
        # driver-side glob => LOCAL filesystem only; reject object-store /
        # remote URI schemes loudly instead of silently globbing nothing
        if "://" in path and not path.startswith("file://"):
            raise ValueError(
                f"html_roster reads the local filesystem only (driver-side glob); "
                f"got non-local path {path!r} — copy the corpus locally or use the "
                f"mapInPandas reader in sources/html_table.py over a distributed FS"
            )
        if path.startswith("file://"):
            # glob.glob/open take plain paths — strip the accepted scheme
            # (file:///x -> /x), otherwise the whitelist is unusable
            path = path[len("file://"):]
        import os as _os

        if any(c in path for c in "*?["):
            self._paths = sorted(_glob.glob(path))
        else:
            # fail at load() time, not with a confusing task error in read()
            self._paths = [path] if _os.path.exists(path) else []
        if not self._paths:
            raise FileNotFoundError(
                f"html_roster: path {path!r} matched no files "
                f"(a typo'd path would otherwise yield an empty DataFrame)"
            )

    def partitions(self) -> list[InputPartition]:
        # one partition per FILE: scan parallelism = corpus size, and the
        # document-order contract (row_idx within source_file) is local to
        # a single task
        return [_RosterFilePartition(p) for p in self._paths]

    def read(self, partition: _RosterFilePartition) -> Iterator[tuple]:
        named = roster_file_year(partition.path)
        if named is None:
            return  # same warn-and-skip as the reference's file loop (:507)
        with open(partition.path, encoding="utf-8", errors="replace") as f:
            content = f.read()
        for row in _emit_file_rows(*named, content):
            yield tuple(row[c] for c in _FIELD_ORDER)


class HtmlRosterSimpleStreamReader(SimpleDataSourceStreamReader):
    """Streaming tail of the roster corpus: each micro-batch ingests the
    files that appeared since the last committed offset — the Spark-4
    ``SimpleDataSourceStreamReader`` form of the reference's per-file
    loop, with exactly-once file accounting in the offset log.

    Offset = a JSON map of processed file path -> "mtime_ns:size"
    signature (bounded by corpus file count — yearly rosters, not an
    unbounded stream of tiny files).  Tracking the signature, not just
    the name, means a roster REWRITTEN IN PLACE (the corrected-roster
    case ``refresh_year_partitions`` exists for) is picked up as a new
    batch instead of being silently skipped forever.
    ``readBetweenOffsets`` replays a committed span deterministically
    from the same files; a file deleted between commit and recovery is
    skipped with a warning (its rows are unrecoverable — losing only
    them beats failing the whole recovery).  The simple API routes rows
    through the driver; that is the right tradeoff for an incremental
    tail of LARGE documents arriving one-per-year — the
    partition-parallel batch reader above remains the bulk-backfill
    path."""

    def __init__(self, options: dict):
        # reuse the batch reader's path validation (local-only, loud on
        # zero matches) but tolerate an initially EMPTY directory: a
        # stream legitimately starts before data exists
        path = options.get("path")
        if not path:
            raise ValueError("html_roster requires a path, e.g. .load('/dir/*.html')")
        if "://" in path and not path.startswith("file://"):
            raise ValueError(f"html_roster streams the local filesystem only; got {path!r}")
        if path.startswith("file://"):
            path = path[len("file://"):]
        self._pattern = path if any(c in path for c in "*?[") else path.rstrip("/") + "/*.html"

    def initialOffset(self) -> dict:
        return {"processed": {}}

    @staticmethod
    def _signatures(offset_part) -> dict:
        """Normalize an offset's 'processed' field to {path: signature}.
        Accepts the legacy list-of-names form (pre-rewrite-tracking
        checkpoints) so an in-flight stream upgrades in place; legacy
        entries get a sentinel signature that never matches a real stat,
        which makes the next batch re-check (not re-ingest: the name is
        still known, and an unchanged file stats to a NEW signature that
        replaces the sentinel without emitting rows — see read())."""
        if isinstance(offset_part, dict):
            return dict(offset_part)
        return {p: "" for p in (offset_part or [])}

    @staticmethod
    def _stat_sig(path: str) -> str | None:
        try:
            st = _os.stat(path)
        except OSError:
            return None
        return f"{st.st_mtime_ns}:{st.st_size}"

    def _rows_for(self, paths: list[str]) -> Iterator[tuple]:
        for p in paths:
            named = roster_file_year(p)
            if named is None:
                continue  # same warn-and-skip as the batch reader
            with open(p, encoding="utf-8", errors="replace") as f:
                content = f.read()
            for row in _emit_file_rows(*named, content):
                yield tuple(row[c] for c in _FIELD_ORDER)

    def read(self, start: dict):
        seen = self._signatures(start.get("processed"))
        end_sigs = dict(seen)
        new: list[str] = []
        for p in sorted(_glob.glob(self._pattern)):
            sig = self._stat_sig(p)
            if sig is None:
                continue  # deleted between glob and stat — next batch's problem
            prev = end_sigs.get(p)
            if prev == sig:
                continue  # unchanged since last commit
            end_sigs[p] = sig
            if prev == "":
                # legacy name-only checkpoint entry: the file was already
                # ingested under the old offset format — adopt its real
                # signature without re-emitting rows
                continue
            new.append(p)  # brand-new file, or rewritten in place
        # a LIST ITERATOR, not a generator or a bare list: Spark's prefetch
        # cache copy.copy()s the returned iterator for replay (generators
        # aren't copyable) and calls next() on it to validate an empty
        # unchanged batch (bare lists aren't iterators)
        return iter(list(self._rows_for(new))), {"processed": end_sigs}

    def readBetweenOffsets(self, start: dict, end: dict) -> list[tuple]:
        start_sigs = self._signatures(start.get("processed"))
        end_sigs = self._signatures(end.get("processed"))
        # replay exactly what read() emitted for this span: paths whose
        # signature changed across it, excluding legacy-sentinel adoptions
        # (those emitted nothing)
        replay = sorted(
            p
            for p, sig in end_sigs.items()
            if start_sigs.get(p) != sig and start_sigs.get(p) != ""
        )
        present: list[str] = []
        for p in replay:
            cur = self._stat_sig(p)
            if cur == end_sigs[p]:
                present.append(p)
            elif cur is None:
                _warnings.warn(
                    f"html_roster recovery: committed file {p!r} no longer "
                    "exists; its rows cannot be replayed and are skipped",
                    stacklevel=2,
                )
            else:
                # rewritten in place between commit and recovery: the
                # committed generation's bytes are gone, and replaying the
                # CURRENT content would both fabricate this batch and
                # duplicate the rewrite (the next read() will emit the new
                # signature as its own batch).  Losing only the committed
                # generation beats either.
                _warnings.warn(
                    f"html_roster recovery: committed file {p!r} was "
                    f"rewritten (signature {end_sigs[p]!r} -> {cur!r}); the "
                    "committed generation's rows cannot be replayed and are "
                    "skipped — the new content arrives as its own batch",
                    stacklevel=2,
                )
        return list(self._rows_for(present))


class HtmlRosterDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "html_roster"

    def schema(self):
        return READER_SCHEMA

    def reader(self, schema) -> HtmlRosterReader:
        return HtmlRosterReader(self.options)

    def simpleStreamReader(self, schema) -> HtmlRosterSimpleStreamReader:
        return HtmlRosterSimpleStreamReader(self.options)
