"""Stable turn ordering per conversation (SURVEY.md §2.5 W1/W2).

The reference sorts revisions per page with a TreeMap + explicit sort
(RevisionFileConverter.java:70,129-136) and relies on dump-file
ordering. Here the input arrives in arbitrary partition order, so the
order is *declared*: a window over (turn_idx, ts) per conv_id. The
"revision id" of a turn is its turn_idx (ids may be non-dense, exactly
like MediaWiki revision ids); `pos` is the dense 1..n sequence and
`next_turn_idx` is the W2 lookahead (LONG_MAX sentinel on the last
turn, cf. RevisionFileConverter.java:133).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import LONG_MAX

TURN_ORDER = ("turn_idx", "ts")


def turn_window(transcripts: DataFrame, *carry) -> DataFrame:
    """The W1/W2 window, defined once: (conv_id, turn_idx as long,
    *carry, pos, next_turn_idx, parent_turn_idx). Callers project away
    what they do not read; Catalyst prunes the unused window functions.
    """
    w = Window.partitionBy("conv_id").orderBy(*TURN_ORDER)
    turn = F.col("turn_idx").cast("long")
    return transcripts.select(
        "conv_id",
        turn.alias("turn_idx"),
        *carry,
        F.row_number().over(w).alias("pos"),
        F.lead(turn, 1, LONG_MAX).over(w).alias("next_turn_idx"),
        F.lag(turn, 1).over(w).alias("parent_turn_idx"),
    )


def ordered_turns(transcripts: DataFrame) -> DataFrame:
    """Turn-metadata table: the analog of revisions.tsv.gz
    (FileHistoryOutput.java:34-44) — one row per turn with dense
    position and next-revision lookahead.
    """
    return turn_window(transcripts, "role", "tool", "ts")
