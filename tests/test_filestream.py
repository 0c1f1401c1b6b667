"""The file-stream runner: every streaming mirror starts through
`streaming.filestream.run_file_stream`, so the source → transform →
sink → availableNow wiring exists once."""

from __future__ import annotations

import pathlib

from purpleair_data_logger_spark.streaming import filestream

_ALLOWED = {"filestream.py", "ingest.py"}


def test_stream_wiring_lives_only_in_the_runner():
    """A copied readStream→sink wrapper cannot creep back: outside the
    runner and the custom-source ingest job, no streaming module opens
    a stream source or sets a trigger."""
    streaming_dir = pathlib.Path(filestream.__file__).parent
    offenders = []
    for p in streaming_dir.rglob("*.py"):
        if p.name in _ALLOWED:
            continue
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if "readStream" in line or ".trigger(" in line:
                offenders.append(f"{p.name}:{i}")
    assert not offenders, offenders
