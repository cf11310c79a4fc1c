"""No engine frame is persisted: an operator that reads an intermediate
twice local-checkpoints it (NOTES.md lesson 9).  A ``.persist()`` or
``.cache()`` enters Spark's CacheManager, which matches frames by plan
across calls and keeps them after a raise."""

import pathlib
import re

_ENGINE = pathlib.Path(__file__).resolve().parents[1] / "rsgislib_spark"
_PERSIST = re.compile(r"\.persist\(|\.cache\(")


def test_no_persisted_frame_in_engine():
    hits = [f"{p.relative_to(_ENGINE)}:{n}: {line.strip()}"
            for p in sorted(_ENGINE.rglob("*.py"))
            for n, line in enumerate(p.read_text().splitlines(), 1)
            if _PERSIST.search(line)]
    assert not hits, hits
