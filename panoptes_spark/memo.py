"""One bounded, content-keyed memo for every build-once value.

A planned relation, a built index artifact, a collected dim table, a
trained merge table and a compiled DSL program all resolve through
:func:`cached`, the way a catalog resolves a relation: one lookup keyed
on the session and the canonical path, answered only while the files
the value was built from are unchanged.
"""

from __future__ import annotations

import os
import threading
import time
from collections import OrderedDict

#: live-slot bound. A full ``bench.py`` run (the sf0.001 warm battery
#: plus three timed sf0.1 batteries) leaves 70 live slots, 35 per
#: dataset; 128 keeps three datasets' working sets resident and caps a
#: long-running driver that keeps reading or building at fresh paths.
_MAX_ENTRIES = 128

#: slot -> (identity, value, build seconds, build end), least recently
#: used first
_ENTRIES: OrderedDict = OrderedDict()
_LOCK = threading.Lock()


def _raise(err: OSError):
    raise err


def _files(real: str) -> tuple:
    """(relative path, size, st_mtime_ns) of every data file under a
    dir, or of the path itself when it is a file."""
    if not os.path.isdir(real):
        st = os.stat(real)
        return (("", st.st_size, st.st_mtime_ns),)
    out = []
    for root, dirs, names in os.walk(real, onerror=_raise):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for p in (os.path.join(root, n) for n in names if n[0] not in "_."):
            st = os.stat(p)
            out.append((os.path.relpath(p, real), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def cached(spark, slot: tuple, sources, build):
    """``build()``'s value for ``slot`` = ``(kind, path, *params)`` in
    this Spark application, reused while the files under the
    ``sources`` paths are unchanged. A change rebuilds and replaces the
    slot, so each path keeps one generation; sources that cannot be
    listed are never memoized."""
    try:
        ident = tuple((os.path.realpath(s), _files(os.path.realpath(s)))
                      for s in sources)
    except OSError:
        return build()
    kind, path, *params = slot
    key = (spark.sparkContext.applicationId, kind, os.path.realpath(path),
           tuple(params))
    with _LOCK:
        hit = _ENTRIES.get(key)
        if hit is not None and hit[0] == ident:
            _ENTRIES.move_to_end(key)
            return hit[1]
    t0 = time.monotonic()
    value = build()
    t1 = time.monotonic()
    with _LOCK:
        _ENTRIES.pop(key, None)
        _ENTRIES[key] = (ident, value, t1 - t0, t1)
        while len(_ENTRIES) > _MAX_ENTRIES:
            _ENTRIES.popitem(last=False)
    return value


def build_s(kind: str) -> float:
    """Seconds the latest live ``build()`` of ``kind`` took; 0.0 when
    nothing of that kind was built."""
    with _LOCK:
        built = [(e[3], e[2]) for k, e in _ENTRIES.items() if k[1] == kind]
    return max(built)[1] if built else 0.0
