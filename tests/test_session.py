"""Session defaults that keep the engine's output clean."""

from __future__ import annotations


def test_session_has_no_console_progress_bar(spark):
    # the bar writes "[Stage N:>" lines into stderr for every job
    assert spark.sparkContext.getConf().get("spark.ui.showConsoleProgress") == "false"
    assert not spark.sparkContext._jsc.sc().progressBar().isDefined()
