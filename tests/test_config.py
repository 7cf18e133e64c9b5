"""Session-conf pin: documented side effect of load_table on caller sessions
(README / session.build_session docstring) — idempotent and restorable."""

_PIN_KEYS = ("spark.sql.session.timeZone", "spark.sql.ansi.enabled")


def test_load_table_conf_pin_is_idempotent(spark):
    """Under the engine's own build_session the pin is a no-op: both confs
    are already at their contract values, and repeated load_table calls
    leave them (and only them) unchanged."""
    from iceberg_explorer_spark.sources.registry import load_table
    from tests.conftest import SF_DIR_SMALL

    before = {k: spark.conf.get(k) for k in _PIN_KEYS}
    assert before == {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.ansi.enabled": "false",
    }
    load_table(spark, SF_DIR_SMALL, "nation")
    load_table(spark, SF_DIR_SMALL, "events")  # the nanosAsLong branch too
    after = {k: spark.conf.get(k) for k in _PIN_KEYS}
    assert after == before


def test_load_table_conf_pin_save_restore_escape_hatch(spark):
    """The documented embedder escape hatch: save the two confs, let the
    engine pin them, restore afterwards — and the engine re-pins on the
    next load_table, so restoring between engine calls is always safe."""
    from iceberg_explorer_spark.sources.registry import load_table
    from tests.conftest import SF_DIR_SMALL

    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        spark.conf.set("spark.sql.ansi.enabled", "true")
        saved = {k: spark.conf.get(k) for k in _PIN_KEYS}

        load_table(spark, SF_DIR_SMALL, "nation")  # engine call pins
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert spark.conf.get("spark.sql.ansi.enabled") == "false"

        for k, v in saved.items():  # embedder restores its own conf
            spark.conf.set(k, v)
        assert spark.conf.get("spark.sql.ansi.enabled") == "true"

        load_table(spark, SF_DIR_SMALL, "nation")  # next engine call re-pins
        assert spark.conf.get("spark.sql.ansi.enabled") == "false"
    finally:  # the shared fixture session must leave with contract values
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.ansi.enabled", "false")
