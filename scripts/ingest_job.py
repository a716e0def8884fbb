"""Batch ingest job: gzipped-JSONL track records → merged timeline.

spark-submit entry point (the reference's S3-event Lambda, M9 dispatch
analogue). Usage:

    python scripts/ingest_job.py <input_glob> <timeline_path> [--streaming <checkpoint>]

Both modes run the stream's per-batch body, ``merge_micro_batch``: one
Spark action per batch, with the invalid-record histogram printed from
metrics observed on the timeline write. The batch mode then prints the
batch's JSON record (rows read, valid, invalid by reason, rows written,
rewarded rows, reward mass). With --streaming it runs as a
Structured Streaming drain (Trigger.AvailableNow) with exactly-once file
accounting.
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tracker_trainer_spark.ingest.reader import read_track_lines  # noqa: E402
from tracker_trainer_spark.session import get_spark  # noqa: E402
from tracker_trainer_spark.streaming import (  # noqa: E402
    merge_micro_batch,
    start_timeline_stream,
)


def _report(hist):
    for reason, n in sorted(hist.items()):
        print(f"invalid[{reason}] = {n}")


def main() -> None:
    src, timeline = sys.argv[1], sys.argv[2]
    spark = get_spark(app_name="tts-ingest")
    if "--streaming" in sys.argv:
        ckpt = sys.argv[sys.argv.index("--streaming") + 1]
        start_timeline_stream(spark, src, timeline, ckpt,
                              on_invalid=_report).awaitTermination()
        return
    record = merge_micro_batch(read_track_lines(spark, src), timeline,
                               on_invalid=_report)
    print(json.dumps(record))


if __name__ == "__main__":
    main()
