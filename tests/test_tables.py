"""sources/tables.py: the events table loader's timestamp-unit sniffing."""

from __future__ import annotations


class TestTsUnitSniffing:
    """events.ts unit detection: annotated footers use the declared unit;
    unannotated int64 is inferred from footer min/max stats and anything
    implausible fails loudly instead of silently assuming nanos (the
    driver has already varied the unit across rounds)."""

    def test_annotated_and_unannotated_units(self, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from simple_cdc_service_spark.sources.tables import _events_ts_to_ns_factor

        epoch_2025 = 1_750_000_000
        for unit, factor in (("s", 10**9), ("ms", 10**6), ("us", 10**3), ("ns", 1)):
            v = epoch_2025 * (10**9 // factor)
            # unannotated plain int64 → stats-based inference
            p = str(tmp_path / f"plain_{unit}.parquet")
            pq.write_table(pa.table({"ts": pa.array([v, v + 10], pa.int64())}), p)
            assert _events_ts_to_ns_factor(p) == factor, unit
        # annotated timestamp[us] → declared unit wins
        p = str(tmp_path / "annot.parquet")
        pq.write_table(
            pa.table({"ts": pa.array([epoch_2025 * 10**6], pa.timestamp("us"))}), p
        )
        assert _events_ts_to_ns_factor(p) == 10**3

    def test_implausible_range_raises(self, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq
        import pytest as _pytest

        from simple_cdc_service_spark.sources.tables import _events_ts_to_ns_factor

        p = str(tmp_path / "bad.parquet")
        pq.write_table(pa.table({"ts": pa.array([42, 99], pa.int64())}), p)
        with _pytest.raises(ValueError, match="refusing to guess"):
            _events_ts_to_ns_factor(p)
