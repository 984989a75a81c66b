"""Storage interface (``storages/base/base.go:31-40``).

``read`` takes N independent queries and returns one (possibly empty) result
per query, order preserved (O1 — ``handlers/prom.go:153-192``): the response
must never drop a slot.
"""

from __future__ import annotations

import abc
from typing import Sequence

from promhouse_spark.models import Query, TimeSeries


class Storage(abc.ABC):
    @abc.abstractmethod
    def read(self, queries: Sequence[Query]) -> list[list[TimeSeries]]:
        """One list of series per query, same order as ``queries``."""

    @abc.abstractmethod
    def write(self, timeseries: Sequence[TimeSeries]) -> None:
        """Append samples; register any new series (append-only, no sample
        dedup — identical (fingerprint, ts) rows are legal, see
        SURVEY §7 risk 6). A return is the ack: the rows survive a crash
        of this process. They may still sit in a write-ahead log rather
        than the tables (see :meth:`flush`); every read of the same
        instance sees them."""

    def flush(self) -> None:
        """Move acknowledged rows still held in a write head into the
        tables, so other readers of the same store see them. A no-op for
        backends that write through."""
