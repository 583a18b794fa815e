"""The carry-scan contract: every per-signal stateful stream kernel runs
through the one stream runner (operators/transforms.stateful_stream_scan)
and ships to executors by value.

No Spark here: a stub `events` records the callable each stream hands
to `applyInPandasWithState`, and a fresh interpreter that cannot import
this package loads and runs it.
"""

from __future__ import annotations

import ast
import json
import os
import pathlib
import pickle
import re
import subprocess
import sys
import textwrap

import pytest

import timeseriesdb_spark
from timeseriesdb_spark.streaming import (
    admission,
    alerts,
    dimensions,
    driftscore,
    features,
    quantile,
    rates,
    segmenter,
    sequences,
    smoothing,
)

PACKAGE = pathlib.Path(timeseriesdb_spark.__file__).parent
RUNNER = PACKAGE / "operators" / "transforms.py"

STREAMS = {
    "ewma_stream": lambda ev: smoothing.ewma_stream(ev, 0.2),
    "counter_rate_stream": rates.counter_rate_stream,
    "admitted_stream": lambda ev: admission.admitted_stream(ev, 2, 60),
    "scd2_stream": dimensions.scd2_stream,
    "alert_stream": lambda ev: alerts.alert_stream(ev, 1.5, 2),
    "segment_stats_stream": lambda ev: segmenter.segment_stats_stream(ev, 2),
    "positioned_stream": driftscore.positioned_stream,
    "feature_snapshot_stream": features.feature_snapshot_stream,
    "rolling_quantile_stream": quantile.rolling_quantile_stream,
    "event_trigram_stream": sequences.event_trigram_stream,
}


class _RecordingEvents:
    """Stands in for a streaming DataFrame: records what the stream
    passes to groupBy(...).applyInPandasWithState."""

    def __init__(self):
        self.calls = []

    def groupBy(self, *cols):
        events = self

        class _Grouped:
            def applyInPandasWithState(self, func, **kwargs):
                events.calls.append((cols, func, kwargs))
                return func

        return _Grouped()


# Runs in a fresh interpreter whose sys.path cannot reach this package:
# load every pickled callable and drive it over one 3-row micro-batch.
_LOADER = textwrap.dedent(
    """
    import json, pickle, sys
    import pandas as pd

    class State:
        hasTimedOut = False
        def __init__(self):
            self.value = None
        @property
        def exists(self):
            return self.value is not None
        @property
        def get(self):
            return self.value
        def update(self, value):
            self.value = value
        def remove(self):
            self.value = None
        def setTimeoutDuration(self, ms):
            pass

    rows = pd.DataFrame({
        "user_id": [7, 7, 7],
        "event_id": [3, 1, 2],
        "ts": pd.to_datetime(["2024-01-01 00:00:03", "2024-01-01 00:00:01",
                              "2024-01-01 00:00:02"]),
        "value": [3.0, 1.0, 2.0],
        "event_type": ["purchase", "view", "cart"],
    })
    with open(sys.argv[1], "rb") as f:
        funcs = pickle.load(f)
    result = {}
    for name, blob in funcs.items():
        try:
            fn = pickle.loads(blob)
            outs = list(fn((7,), iter([rows.iloc[:2], rows.iloc[2:]]), State()))
            result[name] = "ok:%d" % sum(len(o) for o in outs)
        except Exception as exc:
            result[name] = "%s: %s" % (type(exc).__name__, exc)
    print(json.dumps(result))
    """
)


def _captured(name):
    events = _RecordingEvents()
    STREAMS[name](events)
    assert len(events.calls) == 1, events.calls
    cols, func, kwargs = events.calls[0]
    assert cols == ("user_id",)
    assert kwargs["outputMode"] == "append"
    return func


@pytest.fixture(scope="module")
def loaded_elsewhere(tmp_path_factory):
    from pyspark import cloudpickle

    tmp = tmp_path_factory.mktemp("ship_by_value")
    blobs = {name: cloudpickle.dumps(_captured(name)) for name in STREAMS}
    with open(tmp / "funcs.pkl", "wb") as f:
        pickle.dump(blobs, f)
    (tmp / "load.py").write_text(_LOADER)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-I", "load.py", "funcs.pkl"],
        cwd=tmp, env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("name", sorted(STREAMS))
def test_stream_kernel_ships_by_value(name, loaded_elsewhere):
    """Executors do not have this package installed: the callable each
    stream hands to Spark must unpickle and run without it (a kernel
    defined at module level pickles by reference and fails here)."""
    assert loaded_elsewhere[name].startswith("ok:"), loaded_elsewhere[name]


def _sources():
    return {p: p.read_text() for p in sorted(PACKAGE.rglob("*.py"))}


def test_apply_in_pandas_with_state_only_in_the_runner():
    calls = [
        str(p.relative_to(PACKAGE))
        for p, src in _sources().items()
        for _ in re.finditer(r"\.applyInPandasWithState\s*\(", src)
    ]
    assert calls == ["operators/transforms.py"]


def test_group_state_timeout_only_in_the_runner():
    importers = []
    for p, src in _sources().items():
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, (ast.Import, ast.ImportFrom)) and any(
                "GroupStateTimeout" in a.name for a in node.names
            ):
                importers.append(p)
    assert importers == [RUNNER]


def _sorts_by_ts_event_id(call):
    by = call.args[0] if call.args else next(
        (k.value for k in call.keywords if k.arg == "by"), None
    )
    try:
        return by is not None and ast.literal_eval(by) == ["ts", "event_id"]
    except ValueError:
        return False


def _concats_chunks(call):
    if not call.args:
        return False
    names = {
        n.id for n in ast.walk(call.args[0]) if isinstance(n, ast.Name)
    }
    return any("chunk" in n or n == "pdfs" for n in names)


def test_streaming_kernels_leave_chunking_to_the_runner():
    """Concatenating a key's Arrow chunks and sorting them into
    (ts, event_id) order is the stream runner's job; a streaming module
    doing either by itself is a hand-rolled kernel."""
    offenders = []
    for p in sorted((PACKAGE / "streaming").glob("*.py")):
        for node in ast.walk(ast.parse(p.read_text())):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
            ):
                continue
            if (node.func.attr == "sort_values"
                    and _sorts_by_ts_event_id(node)) or (
                node.func.attr == "concat" and _concats_chunks(node)
            ):
                offenders.append(f"{p.name}:{node.lineno}")
    assert offenders == []
