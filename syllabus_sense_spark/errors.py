"""Engine exception hierarchy (reference A20 parity).

The reference defines a small typed error layer —
``SyllabusSenseException`` base plus ``InvalidOutputDirectoryError``
(/root/reference/exceptions.py:1-18) — so callers can catch
engine-originated failures distinctly from arbitrary Python errors.
This module is the Spark engine's equivalent public layer. Policy
(SURVEY.md §4): *data-level* faults degrade to empty/quarantine inside
tasks and never raise; *caller-level* misuse (bad paths, unknown
tables, a stalled stream the caller asked us to watch, an availableNow
drain that outlives ``streaming.drain.DRAIN_TIMEOUT_S``) raises one of
these types at the driver, before or after — never inside — a job.
"""

from __future__ import annotations


class SyllabusSenseSparkError(Exception):
    """Base class for all engine-raised errors.

    Mirrors ``SyllabusSenseException`` (/root/reference/exceptions.py:1-10).
    """

    def __init__(self, message: str = "An error occurred in the syllabus-sense-spark engine"):
        self.message = message
        super().__init__(self.message)


class InvalidOutputDirectoryError(SyllabusSenseSparkError):
    """The sink path exists and is not a directory.

    Mirrors ``InvalidOutputDirectoryError`` (/root/reference/exceptions.py:13-18);
    raised at the driver before the write job starts, because Spark's
    own failure surfaces only task-side and late.
    """

    def __init__(self, path: str, message: str = "Provided sink path is not a directory"):
        self.path = path
        super().__init__(f"{message}: {path}")


class InvalidDocumentSourceError(SyllabusSenseSparkError):
    """The DOCX scan path does not exist or matches no documents.

    The reference fails fast when handed an unreadable document
    (document_parser/syllabus_parser.py:156-172); a distributed scan
    must do the path-level part of that check up front on the driver —
    per-document corruption stays task-level failure→empty.
    """

    def __init__(self, path: str, message: str = "Document source path does not exist"):
        self.path = path
        super().__init__(f"{message}: {path}")


class TableNotFoundError(SyllabusSenseSparkError, KeyError):
    """An unknown harness table name was requested from ``tables.load``."""

    def __init__(self, name: str, known: tuple[str, ...]):
        self.name = name
        SyllabusSenseSparkError.__init__(
            self, f"unknown table {name!r}; expected one of {known}"
        )


class StreamStalledError(SyllabusSenseSparkError):
    """A watched streaming query made no progress within the guard window.

    Mirrors the reference's stuck-position safeguard
    (/root/reference/syllabus_ai_graph.py:306-312) — a cursor that
    stops advancing ends the loop instead of spinning forever. Raised
    only when the caller opts into ``raise_on_stall=True``; the default
    mirrors the reference and stops the query cleanly.
    """

    def __init__(self, query_name: str, idle_batches: int):
        self.query_name = query_name
        self.idle_batches = idle_batches
        super().__init__(
            f"streaming query {query_name!r} made no progress for "
            f"{idle_batches} consecutive polls; stopping (stuck-cursor guard)"
        )


class StreamDrainTimeoutError(SyllabusSenseSparkError, TimeoutError):
    """An availableNow drain did not finish within its timeout.

    Raised by ``streaming.drain.drain`` after it has stopped the query,
    so the sink name is free for the next call and no query is left
    running.
    """

    def __init__(self, query_name: str, timeout_s: float):
        self.query_name = query_name
        self.timeout_s = timeout_s
        super().__init__(
            f"availableNow drain {query_name!r} did not finish within "
            f"{timeout_s} s; stopped"
        )
