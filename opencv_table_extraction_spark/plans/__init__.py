from .pipeline import (  # noqa: F401
    OUT_SCHEMA,
    extract_transcripts,
    grouped_running_sum,
    lineage_accumulator,
    lineage_summary,
    lineage_table,
    ordered_output,
    transcripts_from_tpch,
    with_turn_seq,
)
