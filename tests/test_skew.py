"""Skew handling: the normalize stage must produce identical results
regardless of partitioning, a hot conversation included."""

from napalm_logs_spark.operators.normalize import normalize
from napalm_logs_spark.profiles import load_registry
from napalm_logs_spark.sources.transcripts import transcripts_df
from synth import synth_transcripts_pandas


def test_normalize_partitioning_invariant(spark):
    registry = load_registry()
    pdf = synth_transcripts_pandas(n_convs=10, turns_per_conv=30, seed=3,
                                   hot_conv_fraction=0.5)
    df = transcripts_df(spark, pdf)
    a = (
        normalize(df.repartition(8), registry)
        .orderBy("conv_id", "turn_idx", "os")
        .select("conv_id", "turn_idx", "os", "error", "yang_message")
        .collect()
    )
    b = (
        normalize(df.coalesce(1), registry)
        .orderBy("conv_id", "turn_idx", "os")
        .select("conv_id", "turn_idx", "os", "error", "yang_message")
        .collect()
    )
    assert a == b
