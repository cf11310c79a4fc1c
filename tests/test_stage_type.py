"""One Python stage type: every batch kernel of the engine runs on Arrow.

Only ``streaming/events.py`` may use pandas: its stateful streaming API
(``applyInPandasWithState``) has no Arrow form in use here.
"""

import pathlib
import re

_ENGINE = pathlib.Path(__file__).resolve().parents[1] / "rsgislib_spark"
_PANDAS = re.compile(r"mapInPandas|applyInPandas"
                     r"|^\s*(import pandas|from pandas\b)", re.M)


def test_no_pandas_stage_outside_streaming():
    allowed = _ENGINE / "streaming" / "events.py"
    hits = {str(p.relative_to(_ENGINE)): sorted(
                {m.group(0).strip() for m in _PANDAS.finditer(p.read_text())})
            for p in sorted(_ENGINE.rglob("*.py")) if p != allowed}
    assert not {k: v for k, v in hits.items() if v}
