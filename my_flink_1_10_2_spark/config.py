"""EnvironmentSettings + TableConfig (ref: flink-python/pyflink/table/
environment_settings.py:23, table_config.py:29; consumed by
TableEnvironment.create table_environment.py:1127/:1255).

Settings that have a real Spark analog map onto session confs
(timezone, planner mode → batch/streaming entry); settings that are
engine-internal in the reference (null check, generated-code length,
decimal context) are recorded and readable for API compatibility but
have no effect — Catalyst handles the equivalents automatically, and
pretending otherwise would be dishonest.  Idle state retention maps to
the state-timeout contract of the stateful operators
(`applyInPandasWithState` TTL), surfaced as the advisory value they
read.
"""

from __future__ import annotations

import datetime


class EnvironmentSettings:
    """ref: environment_settings.py:23."""

    def __init__(self, streaming_mode: bool, catalog: str, database: str):
        self._streaming = streaming_mode
        self._catalog = catalog
        self._database = database

    class Builder:
        def __init__(self):
            self._streaming = True
            self._catalog = "default_catalog"
            self._database = "default"

        def use_blink_planner(self) -> "EnvironmentSettings.Builder":
            return self  # Catalyst is the only planner — blink's analog

        def use_old_planner(self) -> "EnvironmentSettings.Builder":
            raise NotImplementedError(
                "the legacy planner has no analog here; use_blink_planner"
            )

        use_any_planner = use_blink_planner

        def in_batch_mode(self) -> "EnvironmentSettings.Builder":
            self._streaming = False
            return self

        def in_streaming_mode(self) -> "EnvironmentSettings.Builder":
            self._streaming = True
            return self

        def with_built_in_catalog_name(self, name: str) -> "EnvironmentSettings.Builder":
            self._catalog = name
            return self

        def with_built_in_database_name(self, name: str) -> "EnvironmentSettings.Builder":
            self._database = name
            return self

        def build(self) -> "EnvironmentSettings":
            return EnvironmentSettings(self._streaming, self._catalog, self._database)

    @staticmethod
    def new_instance() -> "EnvironmentSettings.Builder":
        return EnvironmentSettings.Builder()

    def is_streaming_mode(self) -> bool:
        return self._streaming

    def get_built_in_catalog_name(self) -> str:
        return self._catalog

    def get_built_in_database_name(self) -> str:
        return self._database


class TableConfig:
    """ref: table_config.py:29."""

    def __init__(self):
        self._timezone = "UTC"
        self._null_check = True
        self._max_gen_code_len = 64000
        self._idle_state_retention: tuple[int, int] = (0, 0)  # ms
        self._conf: dict[str, str] = {}

    # timezone — the one config with a direct Spark analog
    def get_local_timezone(self) -> str:
        return self._timezone

    def set_local_timezone(self, timezone_id: str) -> None:
        self._timezone = timezone_id

    # engine-internal in the reference; recorded, no effect (documented)
    def get_null_check(self) -> bool:
        return self._null_check

    def set_null_check(self, null_check: bool) -> None:
        self._null_check = bool(null_check)

    def get_max_generated_code_length(self) -> int:
        return self._max_gen_code_len

    def set_max_generated_code_length(self, n: int) -> None:
        self._max_gen_code_len = int(n)

    # idle state retention (ref: table_config.py:110) — advisory TTL for
    # the stateful operators (KeyedStream.process state timeouts)
    def set_idle_state_retention_time(
        self, min_time: datetime.timedelta, max_time: datetime.timedelta
    ) -> None:
        self._idle_state_retention = (
            int(min_time.total_seconds() * 1000),
            int(max_time.total_seconds() * 1000),
        )

    def get_min_idle_state_retention_time(self) -> int:
        return self._idle_state_retention[0]

    def get_max_idle_state_retention_time(self) -> int:
        return self._idle_state_retention[1]

    def get_configuration(self) -> dict[str, str]:
        return dict(self._conf)

    def add_configuration(self, configuration: dict) -> None:
        self._conf.update({str(k): str(v) for k, v in configuration.items()})

    def apply(self, spark) -> None:
        """Push the applicable settings onto the session."""
        spark.conf.set("spark.sql.session.timeZone", self._timezone)
        for k, v in self._conf.items():
            if k.startswith("spark."):
                try:
                    spark.conf.set(k, v)
                except Exception:
                    pass  # static conf — ignore, same policy as tune_session
