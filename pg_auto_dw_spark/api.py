"""AutoDW facade: the reference's user API re-expressed for Spark
(SURVEY.md section 2.8).

    auto_dw.go()               -> AutoDW.go()          (src/lib.rs:16-37)
    auto_dw.source_include()   -> AutoDW.source_include (src/lib.rs:39-59)
    auto_dw.source_exclude()   -> AutoDW.source_exclude (src/lib.rs:61-79)
    auto_dw.source_table()     -> AutoDW.source_table  (src/lib.rs:81-111)
    auto_dw.source_column()    -> AutoDW.source_column (src/lib.rs:113-151)
    auto_dw.hash(text)         -> AutoDW.hash          (src/lib.rs:153-157)

Plus the two background workers as explicit methods (crawl /
classify_pending) -- cadence is the caller's choice; the merge and the
anti-join loads are idempotent, so any schedule is safe (SURVEY 2.9).
"""

from __future__ import annotations

import datetime
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .build.builder import (
    add_target_columns,
    assemble_business_keys,
    build_and_load,
    build_object_pull,
    load_business_key,
    ready_build_call_rows,
)
from .catalog.introspect import catalog_snapshot
from .catalog.registry import SourceRegistry
from .catalog.scd2 import SOURCE_OBJECTS_SCHEMA, crawl as scd2_crawl, tracked
from .classify.client import Classifier, DeterministicStub
# source_table_prompts stays importable here: callers look the
# pending-prompt frame up on this module
from .classify.pending import prompt_rows, source_table_prompts, tables_requiring_transformation  # noqa: F401
from .functions.hashing import hash_text
from .model.dv_schema import DVSchema
from .model.status import (
    BUILD_CALL_SCHEMA,
    TRANSFORMER_RESPONSES_SCHEMA,
    source_column_df,
    source_table_df,
)
from .session import prepare
from .warehouse import Warehouse, local_frame

DV_REPO_SCHEMA = T.StructType(
    [
        T.StructField("build_id", T.StringType(), False),
        T.StructField("insert_time", T.TimestampType(), True),
        T.StructField("schema", T.StringType(), True),  # JSON text
    ]
)

LOG_SCHEMA = T.StructType(
    [
        T.StructField("pk_log", T.LongType(), False),
        T.StructField("log_ts", T.TimestampType(), True),
        T.StructField("process", T.StringType(), True),
        T.StructField("level", T.StringType(), True),
        T.StructField("message", T.StringType(), True),
    ]
)

HEALTH_SCHEMA = T.StructType(
    [T.StructField(name, T.StringType()) for name in ("component", "status", "detail")]
)

CONTEXT_SCHEMA = T.StructType(
    [
        T.StructField("object_name", T.StringType(), False),
        T.StructField("context", T.StringType(), True),  # JSON
        T.StructField("updated_at", T.TimestampType(), True),
    ]
)


class AutoDW:
    def __init__(
        self,
        spark: SparkSession,
        warehouse_root: str,
        registry: SourceRegistry | None = None,
        dw_schema: str = "dw",
        confidence_threshold: str = "0.8",
        model_name: str = "deterministic-stub",
        transport=None,
        clock=None,
        partition_dv_by_load_date: bool = False,
    ):
        self.spark = prepare(spark)
        self.wh = Warehouse(spark, warehouse_root)
        self.registry = registry or SourceRegistry()
        self.dw_schema = dw_schema
        self.confidence_threshold = confidence_threshold
        self.model_name = model_name
        self.classifier = Classifier(transport or DeterministicStub(), model_name)
        self.partition_dv_by_load_date = partition_dv_by_load_date
        self._clock = clock or (lambda: datetime.datetime.utcnow().replace(microsecond=0))
        self._sources: dict[tuple[str, str], DataFrame] = {}
        # guc.rs:7-31 defaults, except server_type: the reference
        # defaults to ollama; this package defaults to the hermetic
        # stub (set_config('pg_auto_dw.transformer_server_type',
        # 'ollama') switches live).
        self._settings: dict[str, str | None] = {
            "pg_auto_dw.database_name": None,
            "pg_auto_dw.dw_schema": dw_schema,
            "pg_auto_dw.transformer_server_type": None if transport else "stub",
            "pg_auto_dw.transformer_server_url": "http://localhost:11434/api/generate",
            "pg_auto_dw.transformer_server_token": None,
            "pg_auto_dw.model": model_name,
            "pg_auto_dw.accepted_transformer_confidence_level": confidence_threshold,
        }
        self.system_id = 4242  # pg_control_system analog (S3): fixed app id
        for name, schema in (
            ("auto_dw.source_objects", SOURCE_OBJECTS_SCHEMA),
            ("auto_dw.transformer_responses", TRANSFORMER_RESPONSES_SCHEMA),
            ("auto_dw.build_call", BUILD_CALL_SCHEMA),
            ("auto_dw.dv_repo", DV_REPO_SCHEMA),
            ("auto_dw.log", LOG_SCHEMA),
            ("auto_dw.context", CONTEXT_SCHEMA),
        ):
            self.wh.create_table(name, schema)
        self._context: dict[str, dict] = {}
        # (dv_repo listing, DVSchema JSON) of the last latest_dv_schema read
        self._dv_cache: tuple | None = None

    # -- source registration (stand-in for "tables living in Postgres") --
    def register_source(self, schema_name: str, table_name: str, df: DataFrame) -> None:
        self._sources[(schema_name, table_name)] = df

    def resolve_source(self, schema_name: str, table_name: str) -> DataFrame:
        return self._sources[(schema_name, table_name)]

    # -- catalog crawl (bgw_source_objects analog) ----------------------
    def _snapshot(self) -> DataFrame:
        return catalog_snapshot(self.spark, self._sources, self.registry)

    def crawl(self, include=("a^", "a^", "a^"), exclude=("a^", "a^", "a^")) -> dict:
        return scd2_crawl(
            self.wh, self._snapshot(), include=include, exclude=exclude, as_of=self._clock()
        )

    def source_include(self, schema: str, table: str = ".*", column: str = ".*") -> str:
        self.crawl(include=(schema, table, column))
        self._log("source_include", "INFO", f"Pattern Included: {schema}/{table}/{column}")
        return "Pattern Included"

    def source_exclude(self, schema: str, table: str = ".*", column: str = ".*") -> str:
        self.crawl(include=("a^", "a^", "a^"), exclude=(schema, table, column))
        self._log("source_exclude", "INFO", f"Pattern Excluded: {schema}/{table}/{column}")
        return "Pattern Excluded"

    # -- classification (bgw_transformer_client analog) -----------------
    def classify_pending(self) -> int:
        import decimal
        import json

        so, tr = self._metadata()
        all_rows = []
        for _, column_links, details in prompt_rows(so, tr):
            links = {
                link["Column Ordinal Position"]: link["PK Source Objects"]
                for link in json.loads(column_links)["Column Links"]
            }
            all_rows.extend(self.classifier.classify_table(details, links))
        if not all_rows:
            return 0
        # apply update_context() sensitivity overrides (U6): context on
        # schema.table.column wins over the model's PII decision
        overrides = {
            k: v for k, v in self._context.items() if "sensitive" in v and k.count(".") == 2
        }
        if overrides:
            pk_names = {
                r["pk_source_objects"]: (
                    f"{r['schema_name']}.{r['table_name']}.{r['column_name']}".lower()
                )
                for r in tracked(so.to_pylist())
            }
            for r in all_rows:
                ctx = overrides.get(pk_names.get(r.fk_source_objects, ""))
                if ctx is None or r.category == "Business Key Part":
                    continue
                if ctx["sensitive"] and r.category == "Descriptor":
                    r.category = "Descriptor - Sensitive"
                    r.reason = "Context override: marked sensitive."
                elif not ctx["sensitive"] and r.category == "Descriptor - Sensitive":
                    r.category = "Descriptor"
                    r.confidence_score = "1.00"
                    r.reason = "Context override: marked not sensitive."
        max_pk = self.wh.max_value("auto_dw.transformer_responses", "pk_transformer_responses") or 0
        now = self._clock()
        data = [
            (
                max_pk + i + 1,
                r.fk_source_objects,
                r.model_name,
                r.category,
                r.business_key_name,
                decimal.Decimal(r.confidence_score),
                r.reason,
                now,
            )
            for i, r in enumerate(all_rows)
        ]
        self.wh.append_rows("auto_dw.transformer_responses", data)
        self._log("transformer_client", "INFO", f"Inserted {len(data)} responses.")
        return len(data)

    # -- status views ---------------------------------------------------
    def _metadata(self):
        """(source_objects, transformer_responses) as Arrow tables: the
        status, pending and go() passes run on the driver over them."""
        return (
            self.wh.read_arrow("auto_dw.source_objects"),
            self.wh.read_arrow("auto_dw.transformer_responses"),
        )

    def source_column(self) -> DataFrame:
        return source_column_df(*self._metadata(), self.confidence_threshold)

    def source_table(self) -> DataFrame:
        return source_table_df(*self._metadata(), self.confidence_threshold)

    # -- build + load ---------------------------------------------------
    def go(
        self,
        flag: str = "Build",
        status: str = "RTD",
        load_ts: datetime.datetime | None = None,
    ) -> str:
        """auto_dw.go([flag, status]) (src/lib.rs:16-37 + docs go.md):

        - go() / go('Build', 'RTD')  -> build + load everything ready
        - go('DryRun', 'RTD')        -> render DDL + plan load counts,
                                        persist nothing
        - go('Push-Table', 'sch.tbl')-> re-load one table from the
                                        latest deployed DVSchema
        """
        if flag == "DryRun":
            return self._go_dry_run()
        if flag == "Push-Table":
            return self._go_push_table(status, load_ts=load_ts)
        return self._go_build(load_ts=load_ts)

    def _plan(self, build_id: str) -> tuple[list, list]:
        """The ready set and the business keys it builds, shared by a
        build and a DryRun, on the driver: the build_call rows
        (fk_transformer_responses, build_id, flag, status) of the ready
        columns (queries.rs:324-415), ordered by
        fk_transformer_responses, and the pull over them
        (queries.rs:417-438)."""
        ready = ready_build_call_rows(*self._metadata(), self.confidence_threshold)
        rows = [(r["pk_transformer_responses"], build_id, "Build", "RTD") for r in ready]
        return rows, assemble_business_keys(build_object_pull(ready, self.system_id))

    def _go_build(self, load_ts: datetime.datetime | None = None) -> str:
        build_id = str(uuid.uuid4())
        rows, business_keys = self._plan(build_id)
        max_pk = self.wh.max_value("auto_dw.build_call", "pk_build_call") or 0
        now = self._clock()
        self.wh.append_rows(
            "auto_dw.build_call",
            [(max_pk + i + 1, *r, now) for i, r in enumerate(rows)],
        )
        dv = DVSchema(dw_schema=self.dw_schema, business_keys=business_keys)
        add_target_columns(dv)

        self.wh.append_rows("auto_dw.dv_repo", [(build_id, self._clock(), dv.to_json())])
        build_and_load(
            self.wh,
            self.resolve_source,
            dv,
            load_ts=load_ts,
            partition_by_load_date=self.partition_dv_by_load_date,
        )
        msg = f"Build ID: {build_id} | Data warehouse tables are currently being built."
        self._log("go", "INFO", msg)
        return msg

    def _go_dry_run(self) -> str:
        """Build-test-rollback (docs go.md): assemble the ready set and
        render the DDL that WOULD run plus planned load counts; nothing
        is persisted (build_call/dv_repo untouched, no tables created)."""
        import pyarrow.compute as pc

        from .build.ddl import hub_ddl_sql, satellite_ddl_sql
        from .build import loader

        _, business_keys = self._plan("dry-run")
        ddl: list[str] = []
        plan: list[str] = []
        for bk in business_keys:
            ddl.append(hub_ddl_sql(self.dw_schema, bk))
            ddl.extend(satellite_ddl_sql(self.dw_schema, bk).values())
            source = self.resolve_source(*bk.source_table())
            # distinct hub keys: from the one staging read when it fits
            staged = loader.staged_rows(source, bk)
            if staged is None:
                n = loader.hub_stage_df(source, bk).count()
            else:
                n = pc.count_distinct(staged[f"hub_{bk.name}"][f"hub_{bk.name}_hk"]).as_py()
            plan.append(f"hub_{bk.name}: {n} keys staged")
        msg = "DryRun | " + "; ".join([f"{len(business_keys)} business key(s)", *plan])
        msg += "".join("\n" + d for d in ddl)
        self._log("go", "INFO", f"DryRun completed: {len(business_keys)} business keys.")
        return msg

    def _go_push_table(
        self, qualified_table: str, load_ts: datetime.datetime | None = None
    ) -> str:
        """go('Push-Table', 'schema.table'): re-load one source table
        through the latest deployed DVSchema (docs go.md), each business
        key in one transaction."""
        dv = self.latest_dv_schema()
        if dv is None:
            return "Push-Table | No deployed DVSchema found. Run go() first."
        schema_name, _, table_name = qualified_table.lower().partition(".")
        for bk in dv.business_keys:
            s, t = bk.source_table()
            if (s.lower(), t.lower()) == (schema_name, table_name):
                counts = load_business_key(
                    self.wh, self.resolve_source(s, t), bk, dv.dw_schema, load_ts
                )
                n_hub = counts.pop(f"hub_{bk.name}")
                n_sats = {key.removeprefix("sat_"): n for key, n in counts.items()}
                msg = f"Push-Table | {qualified_table}: hub +{n_hub}, sats {n_sats}"
                self._log("go", "INFO", msg)
                return msg
        return f"Push-Table | {qualified_table} is not part of the deployed DVSchema."

    def health(self) -> DataFrame:
        """auto_dw.health() (docs health.md): one row per automation
        component with its state."""
        so, tr = self._metadata()
        columns = len(tracked(so.to_pylist()))
        pending = len(tables_requiring_transformation(so, tr))
        builds = len(set(self.wh.read_arrow("auto_dw.build_call")["build_id"].to_pylist()))
        rows = [
            (
                "catalog_crawl",
                "OK" if columns else "IDLE",
                f"{columns} column(s) tracked",
            ),
            (
                "transformer",
                "PENDING" if pending else "OK",
                f"{pending} table(s) awaiting classification",
            ),
            ("builder", "OK" if builds else "IDLE", f"{builds} build(s) deployed"),
        ]
        return local_frame(HEALTH_SCHEMA, rows)

    # -- live settings (utility/guc.rs:33-126 analog) -------------------
    _CONFIG_KEYS = (
        "pg_auto_dw.database_name",
        "pg_auto_dw.dw_schema",
        "pg_auto_dw.transformer_server_type",
        "pg_auto_dw.transformer_server_url",
        "pg_auto_dw.transformer_server_token",
        "pg_auto_dw.model",
        "pg_auto_dw.accepted_transformer_confidence_level",
    )

    def set_config(self, name: str, value) -> str:
        """Live setting change, mirroring the reference's seven
        ``pg_auto_dw.*`` GUCs (utility/guc.rs:33-126). Settings take
        effect immediately: the confidence threshold re-gates the next
        status/build pass, dw_schema retargets the next build, and the
        transformer settings rebuild the classifier transport
        (server_type ollama/openai/stub -- stub is this package's
        hermetic default where the reference defaults to ollama)."""
        if name not in self._CONFIG_KEYS:
            raise ValueError(f"unknown setting {name!r}; valid: {list(self._CONFIG_KEYS)}")
        key = name.rsplit(".", 1)[1]
        if key == "accepted_transformer_confidence_level":
            f = float(value)  # define_float_guc bounds (guc.rs:92-101)
            if not 0.0 <= f <= 1.0:
                raise ValueError("accepted_transformer_confidence_level must be in [0, 1]")
            self.confidence_threshold = str(value)
        elif key == "dw_schema":
            self.dw_schema = str(value)
        elif key == "model":
            self.model_name = str(value)
            if hasattr(self.classifier.transport, "model"):
                self.classifier.transport.model = str(value)
            self.classifier = Classifier(self.classifier.transport, self.model_name)
        self._settings[name] = None if value is None else str(value)
        if key.startswith("transformer_server"):
            self._rebuild_transport()
        self._log("set_config", "INFO", f"{name} set.")
        return "Setting Applied"

    def show_config(self, name: str | None = None):
        """Current settings -- the whole dict, or one value by name."""
        if name is None:
            return dict(self._settings)
        if name not in self._CONFIG_KEYS:
            raise ValueError(f"unknown setting {name!r}; valid: {list(self._CONFIG_KEYS)}")
        return self._settings[name]

    def _rebuild_transport(self) -> None:
        from .classify.client import OllamaTransport, OpenAITransport

        stype = (self._settings["pg_auto_dw.transformer_server_type"] or "stub").lower()
        url = self._settings["pg_auto_dw.transformer_server_url"]
        token = self._settings["pg_auto_dw.transformer_server_token"]
        model = self._settings["pg_auto_dw.model"] or self.model_name
        if stype == "ollama":
            transport = OllamaTransport(
                **{k: v for k, v in (("url", url), ("model", model)) if v}
            )
        elif stype == "openai":
            transport = OpenAITransport(
                api_key=token or "",
                **{k: v for k, v in (("url", url), ("model", model)) if v},
            )
        else:
            transport = DeterministicStub()
        self.classifier = Classifier(transport, self.model_name)

    def update_context(self, object_name: str, context: str | dict) -> str:
        """auto_dw.update_context(object, context) (docs
        update_context.md): attach JSON context to a schema, table, or
        column. Recognized keys: description (feeds classifier prompts),
        sensitive (overrides PII classification), cron (recorded)."""
        import json

        ctx = context if isinstance(context, dict) else json.loads(context)
        key = object_name.lower()
        self._context[key] = {**self._context.get(key, {}), **ctx}
        parts = key.split(".")
        if "description" in ctx and len(parts) == 3:
            meta = self.registry.get(parts[0], parts[1])
            meta.column_descriptions[parts[2]] = str(ctx["description"])
            self.registry.register(meta)
        if "description" in ctx and len(parts) == 2:
            meta = self.registry.get(parts[0], parts[1])
            meta.description = str(ctx["description"])
            self.registry.register(meta)
        if "description" in ctx and len(parts) == 1:
            self.registry.schema_descriptions[parts[0]] = str(ctx["description"])
        self.wh.append_rows(
            "auto_dw.context", [(key, json.dumps(ctx, sort_keys=True), self._clock())]
        )
        self._log("update_context", "INFO", f"Context updated for {object_name}.")
        return "Context Updated"

    def latest_dv_schema(self) -> DVSchema | None:
        """The most recently deployed DVSchema. Its JSON is cached on the
        dv_repo live-file listing, so a Push-Table queries the repo only
        after a deploy (from any writer) has changed it."""
        name = "auto_dw.dv_repo"
        key = (self.wh.path(name), sorted(self.wh.data_files(name).items()))
        if self._dv_cache is None or self._dv_cache[0] != key:
            # newest insert_time, NULLs last (ORDER BY insert_time DESC)
            rows = self.wh.read_arrow(name).to_pylist()
            newest = max(
                rows, key=lambda r: (r["insert_time"] is not None, r["insert_time"]), default=None
            )
            self._dv_cache = (key, newest["schema"] if newest else None)
        return DVSchema.from_json(self._dv_cache[1]) if self._dv_cache[1] else None

    def create_views(self) -> list[str]:
        """Register the auto_dw tables and status functions as temp views
        so users can work in pure Spark SQL (the reference's SELECT *
        FROM auto_dw.* surface). Returns the view names."""
        views = []
        for table in (
            "auto_dw.source_objects",
            "auto_dw.transformer_responses",
            "auto_dw.build_call",
            "auto_dw.dv_repo",
            "auto_dw.log",
            "auto_dw.context",
        ):
            name = table.replace(".", "_")
            self.wh.read(table).createOrReplaceTempView(name)
            views.append(name)
        self.source_column().createOrReplaceTempView("auto_dw_source_column")
        self.source_table().createOrReplaceTempView("auto_dw_source_table")
        self.health().createOrReplaceTempView("auto_dw_health")
        views += ["auto_dw_source_column", "auto_dw_source_table", "auto_dw_health"]
        return views

    # -- misc -----------------------------------------------------------
    @staticmethod
    def hash(text: str) -> str:
        """auto_dw.hash (src/lib.rs:153-157): lowercase hex sha256."""
        return hash_text(text)

    def _log(self, process: str, level: str, message: str) -> None:
        pk = (self.wh.max_value("auto_dw.log", "pk_log") or 0) + 1
        self.wh.append_rows("auto_dw.log", [(pk, self._clock(), process, level, message)])
