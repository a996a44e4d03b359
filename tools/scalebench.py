"""The one harness of the tools/scale_probe* scripts: their positional
arguments (`args`), their timers (`timed`), and their SCALEBENCH.json
write and exit code (`finish`, over `merge_entry`).

SCALEBENCH.json holds one entry per (probe family, scale), keyed like
`vectors_n101000` / `text_n1001000` / `skew_join_n10000000`, so probes
at several scales coexist instead of each run overwriting the last:

    {"metric": "scale_probe", "unit": "sec",
     "entries": {"vectors_n101000": {...}, "text_n101000": {...}, ...}}

`merge_entry` also migrates the legacy round-3 shape (top-level
"results" = the 101k vector probe, "text" = the 101k text probe) into
the keyed form on first contact.
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import contextmanager

BENCH_PATH = os.path.join(os.path.dirname(__file__), "..", "SCALEBENCH.json")


def _load() -> dict:
    # A missing file is a legitimate fresh start; an UNREADABLE file is
    # not — silently resetting here once destroyed 20 committed probe
    # entries (a concurrent probe's in-flight write was read back as
    # truncated JSON and the empty doc was written over everything).
    # Fail loudly instead and leave the bad bytes for inspection.
    if not os.path.exists(BENCH_PATH):
        doc = {}
    else:
        with open(BENCH_PATH) as f:
            raw = f.read().strip()
        try:
            doc = json.loads(raw) if raw else {}
        except Exception as ex:
            raise RuntimeError(
                f"SCALEBENCH.json is unreadable ({ex}); refusing to "
                "reset it — restore from git or fix it by hand"
            ) from ex
    entries = doc.get("entries", {})
    # migrate the legacy single-run shape
    legacy_vec = doc.get("results")
    if isinstance(legacy_vec, dict) and "n" in legacy_vec:
        entries.setdefault(f"vectors_n{legacy_vec['n']}", legacy_vec)
    legacy_text = doc.get("text")
    if isinstance(legacy_text, dict) and "n_docs" in legacy_text:
        entries.setdefault(f"text_n{legacy_text['n_docs']}", legacy_text)
    return {"metric": "scale_probe", "unit": "sec", "entries": entries}


def merge_entry(key: str, results: dict) -> dict:
    # the read-modify-write runs under an exclusive flock: the atomic
    # replace alone fixed torn READS, but two concurrent probes could
    # still both _load() the same doc and the second replace would
    # silently drop the first's entry — the same 20-entries-lost class
    # the unreadable-file guard above exists for, via a different door
    import fcntl

    lock_path = BENCH_PATH + ".lock"
    with open(lock_path, "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        try:
            doc = _load()
            doc["entries"][key] = results
            # atomic replace: a reader outside the lock can never
            # observe a half-written file
            tmp = BENCH_PATH + ".tmp"
            with open(tmp, "w") as f:
                f.write(json.dumps(doc) + "\n")
            os.replace(tmp, BENCH_PATH)
        finally:
            fcntl.flock(lock, fcntl.LOCK_UN)
    return doc


def args(*defaults: int) -> list[int]:
    """The script's positional integer arguments, each falling back to
    its default when not given."""
    given = sys.argv[1:]
    return [int(given[i]) if i < len(given) else d for i, d in enumerate(defaults)]


@contextmanager
def timed(results: dict, key: str):
    """Record the block's wall time, in seconds to 2 places, as
    ``results[key]``."""
    t0 = time.perf_counter()
    yield
    results[key] = round(time.perf_counter() - t0, 2)


def finish(spark, entries: dict, ok: bool) -> int:
    """Merge every ``{key: results}`` entry into SCALEBENCH.json, print
    them as one JSON line, stop Spark, and return the exit code: 0 only
    when ``ok``."""
    for key, results in entries.items():
        merge_entry(key, results)
    print(json.dumps(entries))
    spark.stop()
    return 0 if ok else 1
