"""Streaming metrics listener (SURVEY.md §2.3 A2, §2.6 K4).

Replaces the reference's mutate-a-dataclass-from-the-pipeline pattern
(``mock_cloudwatch.py``) with a ``StreamingQueryListener`` that folds
per-batch progress (rows in, minus the dedup operator's
``numDroppedDuplicateRows`` and the rows dropped as late by the
watermark) into a ``PipelineMetrics`` and can append the Markdown report
each cycle — the reference's once-a-minute report cadence.
"""

from __future__ import annotations

from pyspark.sql.streaming import StreamingQueryListener

from event_streaming_toy_example_spark.operators.metrics import (
    PipelineMetrics,
    append_markdown_report,
)


class PipelineMetricsListener(StreamingQueryListener):
    def __init__(self, report_path: str | None = None) -> None:
        self.metrics = PipelineMetrics()
        self.report_path = report_path

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        self.metrics.lambda_invocations += 1
        rows_in = int(p.numInputRows or 0)
        duplicates = late = 0
        for op in p.stateOperators or []:
            # the dedup operator's own counter; watermark drops are
            # LATE rows, not duplicates
            duplicates += int(
                op.customMetrics.get("numDroppedDuplicateRows", 0)
            )
            late += int(op.numRowsDroppedByWatermark or 0)
        self.metrics.ingested_events += max(rows_in - duplicates - late, 0)
        self.metrics.duplicates_prevented += duplicates
        if self.report_path:
            append_markdown_report(self.metrics, self.report_path)

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass
