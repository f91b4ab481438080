"""Active Debezium schema-change handling: the reference enables
include.schema.changes (debezium-config-push.sh:21) but never consumes the
events; here they drive the replica config end-to-end."""

import json

from pyspark.sql import types as T

from simple_cdc_service_spark.sources.schema_changes import (
    config_from_structure,
    latest_table_structures,
    parse_schema_changes,
    table_configs_from_changes,
)


def _change(ts_ms, table, change_type, columns, pks, ddl):
    """One Debezium schema-change envelope (public connector docs shape)."""
    return json.dumps(
        {
            "payload": {
                "ts_ms": ts_ms,
                "databaseName": "dev",
                "ddl": ddl,
                "tableChanges": [
                    {
                        "type": change_type,
                        "id": f'"dev"."{table}"',
                        "table": {
                            "primaryKeyColumnNames": pks,
                            "columns": [
                                {
                                    "name": n,
                                    "typeName": t,
                                    "position": i + 1,
                                    "optional": n not in pks,
                                }
                                for i, (n, t) in enumerate(columns)
                            ],
                        },
                    }
                ],
            }
        }
    )


def _kafka_df(spark, messages):
    rows = [(i, 1_700_000_000_000 + i, m) for i, m in enumerate(messages)]
    return spark.createDataFrame(rows, "offset long, timestamp long, value string")


V1 = [("order_id", "INT"), ("invoice_number", "INT")]
V2 = V1 + [("currency", "VARCHAR")]


class TestSchemaChangeParsing:
    def test_last_change_wins_and_drop_removes(self, spark):
        msgs = [
            _change(1, "invoice", "CREATE", V1, ["order_id"],
                    "CREATE TABLE invoice (...)"),
            _change(2, "invoice", "ALTER", V2, ["order_id"],
                    "ALTER TABLE invoice ADD currency VARCHAR(3)"),
            _change(3, "legacy", "CREATE", V1, ["order_id"], "CREATE TABLE legacy (...)"),
            _change(4, "legacy", "DROP", [], [], "DROP TABLE legacy"),
            None,  # tombstone: skipped
            "not json",  # malformed: dropped by the corrupt guard
        ]
        df = _kafka_df(spark, msgs)
        latest = {r.table_id: r for r in
                  latest_table_structures(parse_schema_changes(df)).collect()}
        assert set(latest) == {'"dev"."invoice"'}  # legacy DROPped
        assert [c.name for c in latest['"dev"."invoice"'].columns] == [
            "order_id", "invoice_number", "currency",
        ]

    def test_config_and_schema_derivation(self, spark):
        df = _kafka_df(
            spark,
            [_change(1, "invoice", "CREATE", V2, ["order_id"], "CREATE ...")],
        )
        row = latest_table_structures(parse_schema_changes(df)).collect()[0]
        cfg, schema = config_from_structure(row)
        assert cfg.name == "invoice"
        assert cfg.key_columns == ("order_id",)
        assert cfg.value_columns == ("invoice_number", "currency")
        assert schema["order_id"].dataType == T.LongType()
        assert schema["currency"].dataType == T.StringType()


class TestSchemaChangeDrivesReplica:
    def test_evolved_config_feeds_merge(self, spark, tmp_path):
        """Schema topic says the table grew a column -> the derived config
        drives the replica merge and the new column materializes."""
        import os

        from simple_cdc_service_spark.streaming import (
            read_changelog_stream,
            read_replica_manifest,
        )
        from simple_cdc_service_spark.streaming.pipeline import start_replica_merge_manifest

        tables = table_configs_from_changes(
            _kafka_df(
                spark,
                [
                    _change(1, "invoice", "CREATE", V1, ["order_id"], "CREATE ..."),
                    _change(2, "invoice", "ALTER", V2, ["order_id"], "ALTER ..."),
                ],
            )
        )
        cfg, row_schema = tables["invoice"]

        env = {
            "payload": {
                "before": None,
                "after": {"order_id": 1, "invoice_number": 10, "currency": "EUR"},
                "op": "c",
                "ts_ms": 5,
                "source": {"table": "invoice", "file": "b.1", "pos": 5, "row": 0},
            }
        }
        src = str(tmp_path / "src")
        os.makedirs(src)
        with open(os.path.join(src, "a.json"), "w") as f:
            f.write(json.dumps({"offset": 0, "timestamp": 1, "value": json.dumps(env)}) + "\n")
        start_replica_merge_manifest(
            read_changelog_stream(spark, src), cfg,
            str(tmp_path / "state"), str(tmp_path / "ckpt"), row_schema=row_schema,
        ).awaitTermination()
        rows = read_replica_manifest(spark, str(tmp_path / "state")).collect()
        assert [(r.order_id, r.invoice_number, r.currency) for r in rows] == [(1, 10, "EUR")]
