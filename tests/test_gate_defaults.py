"""The committed oracles were generated with these gate values, and the
oracle SQL interpolates the same module constants the queries read. Pin
the values so that editing a gate constant shows up as a deliberate
oracle regeneration, not as silent drift from the committed evidence."""

# The gate values the committed CORRECTNESS/BENCH records assume.
DEFAULTS = {
    "Q42_EXACT_MAX_DOCS": 20000,
}


def test_q42_gate_default_matches_committed_oracle():
    from binwatch_spark.plans import analytics

    assert analytics.Q42_EXACT_MAX_DOCS == DEFAULTS[
        "Q42_EXACT_MAX_DOCS"
    ]
    # the gate the registry's oracle actually embeds is the same number —
    # this is the string DuckDB runs, i.e. what the driver hashes against
    from binwatch_spark.plans.registry import all_oracles

    oracles = all_oracles()
    for q in ("q42_dedup_clusters", "q71_dedup_clusters_star"):
        sql = oracles[q]
        assert f"<= {DEFAULTS['Q42_EXACT_MAX_DOCS']}" in sql, q
        assert f"> {DEFAULTS['Q42_EXACT_MAX_DOCS']}" in sql, q


def test_band_key_cap_is_the_oracle_spelled_constant():
    """The oracle SQL interpolates BAND_KEY_CAP at import — pin the value
    the committed records were generated with so an innocent-looking
    constant edit surfaces as a deliberate oracle regeneration, not silent
    drift."""
    from binwatch_spark.operators import dedup

    assert dedup.BAND_KEY_CAP == 100
