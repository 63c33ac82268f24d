"""Counting, latency-modelled stand-ins for the remote review API and
the review-save API.

Both run inside Spark's Python workers, so they cannot count in driver
memory: every call appends one JSON line to a per-process log file under
`log_dir`, and the driver process reads the logs after the timed region.  A
fixed `delay_s` per call stands in for the remote round trip.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from perfbench.gen import newest_first_page


def _log(log_dir: str, rec: dict) -> None:
    from pyspark import TaskContext

    tc = TaskContext.get()
    rec["task"] = tc.taskAttemptId() if tc is not None else -1
    rec["t"] = time.time()
    path = os.path.join(log_dir, f"{os.getpid()}.log")
    with open(path, "a", encoding="utf-8") as fh:
        fh.write(json.dumps(rec, ensure_ascii=False) + "\n")


@dataclass(frozen=True)
class FeedFetcher:
    """Review feed: place `p` has published `published[p]` reviews and
    serves them newest-first, `page_size` per page."""

    seed: int
    published: dict[str, int]
    log_dir: str
    tag: str
    delay_s: float
    page_size: int = 20

    def __call__(self, place_id: str, page: int) -> list[dict]:
        time.sleep(self.delay_s)
        _log(self.log_dir, {"kind": "fetch", "tag": self.tag, "key": place_id, "page": page})
        n = self.published.get(place_id, 0)
        return newest_first_page(self.seed, place_id, n, page, self.page_size)


@dataclass(frozen=True)
class CountingPoster:
    """Review-save API: accepts every payload after `delay_s`."""

    log_dir: str
    tag: str
    delay_s: float

    def __call__(self, rec: dict) -> None:
        time.sleep(self.delay_s)
        _log(self.log_dir, {"kind": "post", "tag": self.tag,
                            "restaurantId": int(rec["restaurantId"]), "content": rec["content"]})


def read_calls(log_dir: str) -> list[dict]:
    """Every call the fakes logged under `log_dir`, read by the driver process once
    the timed region is over and every worker task has finished."""
    out: list[dict] = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
            out.extend(json.loads(line) for line in fh)
    return out
