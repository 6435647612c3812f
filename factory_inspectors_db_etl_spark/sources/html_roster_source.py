"""`html_roster` — a streaming PySpark Python Data Source (Spark 4
DataSource API) that tails a directory of yearly roster HTML files:

    spark.dataSource.register(HtmlRosterDataSource)
    files = spark.readStream.format("html_roster").load("/data/diplom/*.html")

Each micro-batch emits one whole-file ``(path string, content string)``
row per new or rewritten file: the streaming twin of
``html_table.read_roster_files``.  ``plans.inspectors_etl`` feeds both
through the same per-document pass (``stream_assignment_rows`` and
``parsed_assignment_rows``), so batch and stream share one input shape
and one parser.  The only option is ``path`` (a glob, or a directory
meaning ``dir/*.html``); non-roster names are skipped by the pass, not
here.
"""

from __future__ import annotations

import glob as _glob
import os as _os
import warnings as _warnings
from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

_SCHEMA = "path string, content string"


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
    tail of LARGE documents arriving one-per-year — the partition-parallel
    ``read_roster_files`` remains the bulk-backfill path."""

    def __init__(self, options: dict):
        # driver-side glob => local filesystem only; an initially EMPTY
        # directory is fine: a stream legitimately starts before data exists
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
            with open(p, encoding="utf-8", errors="replace") as f:
                yield p, f.read()

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

    def schema(self) -> str:
        return _SCHEMA

    def simpleStreamReader(self, schema) -> HtmlRosterSimpleStreamReader:
        return HtmlRosterSimpleStreamReader(self.options)
