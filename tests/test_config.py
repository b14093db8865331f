"""Config hygiene, Spark-free: every ``PipelineConfig`` field has a reader."""

from __future__ import annotations

import dataclasses
import pathlib
import re

from repostcheckerbot_spark.config import PipelineConfig

PKG = pathlib.Path(__file__).resolve().parent.parent / "repostcheckerbot_spark"


def test_every_config_field_is_read_by_the_program():
    """A knob that no code reads as ``.<field>`` is dead configuration: it
    documents behaviour the program does not have."""
    src = "\n".join(p.read_text() for p in sorted(PKG.rglob("*.py")))
    unread = [
        f.name for f in dataclasses.fields(PipelineConfig)
        if not re.search(rf"\.{f.name}\b", src)
    ]
    assert unread == []
