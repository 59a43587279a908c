"""Generate the committed flagship golden table.

Runs the pure-Python kernel (no Spark) over the same deterministic
40-conversation skeleton that ``__spark_entry__.entry`` uses and
writes tests/goldens/flagship.parquet with the exact entry() output
columns.  This parquet is the DuckDB oracle for the
``extract_flagship`` / ``extract_summary`` driver-gate queries
(the kernel cascade is not SQL-expressible, but its pinned output is).
"""

import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

import pandas as pd

from webtext_extraction_spark import rules
from webtext_extraction_spark.fixtures_pages import payload_for
from webtext_extraction_spark.kernel.extract import extract_payload

FLAGSHIP_CONVS = 40  # mirrors entry(spark) — synth_transcripts(num_conversations=40)
ROLES = ["user", "assistant", "tool"]  # sources/transcripts.py:_ROLES
OUT = pathlib.Path(__file__).parent / "goldens" / "flagship.parquet"


def rows():
    for i in range(FLAGSHIP_CONVS):
        conv_id = f"conv{i:06d}"
        for turn_idx in range(1 + i % 12):
            payload, tool = payload_for(conv_id, turn_idx)
            r = extract_payload(payload, tool)
            # F6 post-layer, mirroring the one in extraction._extract_batch
            status = r.status
            if status == "ok" and any(p in r.text for p in rules.ERROR_PATTERNS):
                status = "error_pattern"
            yield (
                conv_id,
                turn_idx,
                ROLES[turn_idx % 3],
                tool,
                r.text,
                r.strategy,
                status,
            )


def main():
    df = pd.DataFrame(
        rows(),
        columns=[
            "conv_id", "turn_idx", "role", "tool",
            "extracted_text", "strategy", "status",
        ],
    )
    df.to_parquet(OUT, index=False)
    print(f"wrote {len(df)} flagship golden rows to {OUT}")


if __name__ == "__main__":
    main()
