"""Offline fetchers for the HTTP jobs (FIXTURES.md C1/C3).

The jobs run their fetch callables inside Spark's Python workers, so the
fetcher is a small picklable object holding two paths: the generated
fixture file it serves from, and a log file it appends one line per fetch
to (``<kind> <seconds>``), which is how the benchmark counts fetches made in
another process.
"""

from __future__ import annotations

import json
import time

_CACHE: dict[str, dict] = {}


class FixtureFetcher:
    def __init__(self, fixtures_path: str, log_path: str) -> None:
        self.fixtures_path = fixtures_path
        self.log_path = log_path

    def _data(self) -> dict:
        if self.fixtures_path not in _CACHE:
            with open(self.fixtures_path) as fh:
                _CACHE[self.fixtures_path] = json.load(fh)
        return _CACHE[self.fixtures_path]

    def _log(self, kind: str, start: float) -> None:
        with open(self.log_path, "a") as fh:
            fh.write(f"{kind} {time.perf_counter() - start:.6f}\n")

    def typeahead(self, outcode: str) -> str | None:
        start = time.perf_counter()
        try:
            body = self._data()["typeahead"].get(outcode, {"matches": []})
            if body is None:
                raise ConnectionError(f"fixture error for {outcode}")
            return json.dumps(body)
        finally:
            self._log("typeahead", start)

    def page(self, area_id: int, offset: int) -> str | None:
        start = time.perf_counter()
        try:
            return self._data()["pages"].get(f"{area_id}:{offset}")
        finally:
            self._log("page", start)


def read_log(log_path: str) -> list[tuple[str, float]]:
    try:
        with open(log_path) as fh:
            return [(k, float(s)) for k, s in (line.split() for line in fh if line.strip())]
    except FileNotFoundError:
        return []
