from .transcripts import (
    TRANSCRIPT_SCHEMA,
    golden_cases,
    golden_transcripts_pandas,
    transcripts_df,
)

__all__ = [
    "TRANSCRIPT_SCHEMA",
    "golden_cases",
    "golden_transcripts_pandas",
    "transcripts_df",
]
