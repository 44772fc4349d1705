"""YAML pipeline configuration (reference ``src/pipeline/mod.rs:12-261``,
``src/config/mod.rs:7-67``): named sources and targets with name indexes,
duplicate-name rejection, env-var credential resolution, and pagination
decoding with custom parameter names (SURVEY §2.1 T6, FIXTURES F9).

Example (mirrors reference ``examples/config/pipelines.yaml``)::

    sources:
      - name: employees
        url: https://api.example.com/employees
        data_path: /data
        pagination: {type: page_number, page_param: page, per_page_param: per_page, per_page: 100}
        headers: {X-API-KEY: secret}
        retry: {max_attempts: 3, min_delay_sec: 1, max_delay_sec: 5}
        dest_table: employees
        primary_key_in_dest: id
    targets:
      - name: warehouse
        kind: postgres
        host: localhost
        port: 5432
        database: analytics
        username_env: PG_USER
        password_env: PG_PASS
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import yaml

from apitap_spark.sources.http import (
    CursorPagination,
    HttpSource,
    LimitOffsetPagination,
    PageNumberPagination,
    PageOnlyPagination,
    RetryPolicy,
    TotalHint,
)


class ConfigError(ValueError):
    pass


def _pagination_from(d: dict | None):
    if not d:
        return LimitOffsetPagination()
    kind = d.get("type", "limit_offset")
    if kind == "limit_offset":
        return LimitOffsetPagination(
            limit=int(d.get("limit", 100)),
            limit_param=d.get("limit_param", "limit"),
            offset_param=d.get("offset_param", "offset"),
        )
    if kind == "page_number":
        hint = None
        h = d.get("total_hint")
        if h:
            kind_h = "items" if "items_pointer" in h or h.get("kind") == "items" else "pages"
            pointer = h.get("items_pointer") or h.get("pages_pointer") or h.get("pointer")
            hint = TotalHint(kind_h, pointer)
        return PageNumberPagination(
            per_page=int(d.get("per_page", 100)),
            page_param=d.get("page_param", "page"),
            per_page_param=d.get("per_page_param", "per_page"),
            total_hint=hint,
            start_page=int(d.get("start_page", 1)),
        )
    if kind == "page_only":
        return PageOnlyPagination(
            page_param=d.get("page_param", "page"),
            start_page=int(d.get("start_page", 1)),
        )
    if kind == "cursor":
        return CursorPagination(
            cursor_param=d.get("cursor_param", "cursor"),
            page_size_param=d.get("page_size_param"),
            page_size=int(d["page_size"]) if d.get("page_size") else None,
            next_cursor_pointer=d.get("next_cursor_pointer", "/next_cursor"),
        )
    raise ConfigError(f"unknown pagination type {kind!r}")


@dataclass
class IncrementalConfig:
    """High-watermark incremental sync (reference roadmap README.md:123,532).

    The two fence options guard the streaming (--stream) variant against
    the late-commit race — a row whose cursor was assigned before, but
    whose transaction commits after, a watermark poll. ``cursor_slack``
    (numeric delta or interval string, per cursor type) holds the fence
    back from the frontier; ``xmin_fence`` is the exact
    pg_current_snapshot protocol for monotonically-allocated cursors.
    See sources/pgsource.py PostgresSimpleStreamReader for semantics.
    """

    cursor_field: str  # column in the fetched rows holding the watermark
    cursor_param: str = "since"  # query param carrying the last watermark
    cursor_slack: str | None = None  # streaming fence: delta/interval
    xmin_fence: bool = False  # streaming fence: snapshot-exact (PG13+)


@dataclass
class SourceConfig:
    name: str
    url: str = ""
    kind: str = "http"  # http (reference parity) | postgres (warehouse read-back)
    data_path: str | None = None
    pagination: object = field(default_factory=LimitOffsetPagination)
    headers: dict = field(default_factory=dict)
    params: dict = field(default_factory=dict)
    retry: RetryPolicy = field(default_factory=RetryPolicy)
    dest_table: str | None = None
    primary_key: str | None = None
    incremental: IncrementalConfig | None = None
    # OAuth2 client-credentials block (reference roadmap README.md:124);
    # kept raw here and resolved (incl. client_secret_env) when the
    # HttpSource is built, so secrets never live in parsed YAML dumps
    auth: dict | None = None
    max_concurrency: int = 5  # reference src/cmd/mod.rs:18 CONCURRENT_REQUESTS
    min_request_interval_sec: float = 0.0
    # postgres-kind fields (sources/pgsource.py reader options)
    dsn: str | None = None
    dsn_env: str | None = None  # indirect via env, like target credentials
    table: str | None = None
    partition_column: str | None = None
    num_partitions: int = 4

    @classmethod
    def from_dict(cls, d: dict) -> SourceConfig:
        if not d.get("name"):
            raise ConfigError("source requires a name")
        kind = d.get("kind", "http")
        if kind == "http":
            if not d.get("url"):
                raise ConfigError(f"source {d.get('name')!r} requires a url")
        elif kind == "postgres":
            if not d.get("table"):
                raise ConfigError(
                    f"source {d['name']!r}: postgres source requires table"
                )
            if not d.get("dsn") and not d.get("dsn_env"):
                raise ConfigError(
                    f"source {d['name']!r}: postgres source requires dsn or dsn_env"
                )
        else:
            raise ConfigError(f"source {d['name']!r}: unknown kind {kind!r}")
        retry = d.get("retry") or {}
        auth = d.get("auth")
        if auth is not None:
            if auth.get("type", "oauth2_client_credentials") != (
                "oauth2_client_credentials"
            ):
                raise ConfigError(
                    f"source {d['name']!r}: unknown auth type "
                    f"{auth.get('type')!r}"
                )
            for req in ("token_url", "client_id"):
                if not auth.get(req):
                    raise ConfigError(
                        f"source {d['name']!r}: auth requires {req}"
                    )
            if not auth.get("client_secret") and not auth.get(
                "client_secret_env"
            ):
                raise ConfigError(
                    f"source {d['name']!r}: auth requires client_secret "
                    "or client_secret_env"
                )
        inc = d.get("incremental")
        incremental = None
        if inc:
            if not inc.get("cursor_field"):
                raise ConfigError(
                    f"source {d['name']!r}: incremental requires cursor_field"
                )
            # String-aware truthiness — a templating layer that
            # stringifies YAML values must not turn "false" into an
            # enabled fence — and STRICT: an unrecognized value raises
            # instead of silently disabling the loss protection the
            # user asked for.
            raw_fence = inc.get("xmin_fence", False)
            if isinstance(raw_fence, bool):
                xmin = raw_fence
            else:
                s = str(raw_fence).strip().lower()
                if s in ("true", "1", "yes"):
                    xmin = True
                elif s in ("false", "0", "no", ""):
                    xmin = False
                else:
                    raise ConfigError(
                        f"source {d['name']!r}: xmin_fence must be a "
                        f"boolean (got {raw_fence!r})"
                    )
            if inc.get("cursor_slack") is not None and xmin:
                raise ConfigError(
                    f"source {d['name']!r}: cursor_slack and xmin_fence "
                    "are alternative fences — set one"
                )
            incremental = IncrementalConfig(
                cursor_field=inc["cursor_field"],
                cursor_param=inc.get("cursor_param", "since"),
                cursor_slack=(
                    None
                    if inc.get("cursor_slack") is None
                    else str(inc["cursor_slack"])
                ),
                xmin_fence=xmin,
            )
        return cls(
            name=d["name"],
            url=d.get("url", ""),
            kind=kind,
            data_path=d.get("data_path"),
            pagination=_pagination_from(d.get("pagination")),
            headers=dict(d.get("headers") or {}),
            params=dict(d.get("params") or {}),
            retry=RetryPolicy(
                max_attempts=int(retry.get("max_attempts", 3)),
                min_delay_sec=float(retry.get("min_delay_sec", 1.0)),
                max_delay_sec=float(retry.get("max_delay_sec", 5.0)),
            ),
            dest_table=d.get("dest_table"),
            primary_key=d.get("primary_key_in_dest") or d.get("primary_key"),
            incremental=incremental,
            auth=dict(auth) if auth else None,
            max_concurrency=int(d.get("max_concurrency", 5)),
            min_request_interval_sec=float(d.get("min_request_interval_sec", 0.0)),
            dsn=d.get("dsn"),
            dsn_env=d.get("dsn_env"),
            table=d.get("table"),
            partition_column=d.get("partition_column"),
            num_partitions=int(d.get("num_partitions", 4)),
        )

    def resolved_dsn(self) -> str:
        """DSN for a postgres-kind source; env indirection mirrors the
        target credential policy (never a secret in YAML)."""
        if self.dsn:
            return self.dsn
        if self.dsn_env:
            val = os.environ.get(self.dsn_env, "")
            if not val:
                raise ConfigError(
                    f"source {self.name!r}: env {self.dsn_env} not set"
                )
            return val
        raise ConfigError(f"source {self.name!r}: no dsn configured")

    def resolved_auth(self):
        """Build the OAuth2 helper, resolving client_secret_env the same
        way target credentials resolve — secrets live in the process
        environment, never in YAML."""
        if not self.auth:
            return None
        from apitap_spark.sources.http import OAuth2ClientCredentials

        secret = self.auth.get("client_secret", "")
        env = self.auth.get("client_secret_env")
        if not secret and env:
            secret = os.environ.get(env, "")
            if not secret:
                raise ConfigError(
                    f"source {self.name!r}: env {env} not set"
                )
        return OAuth2ClientCredentials(
            token_url=self.auth["token_url"],
            client_id=self.auth["client_id"],
            client_secret=secret,
            scope=self.auth.get("scope"),
            audience=self.auth.get("audience"),
            refresh_slack_sec=float(
                self.auth.get("refresh_slack_sec", 60.0)
            ),
        )

    def to_http_source(self) -> HttpSource:
        if self.kind != "http":
            raise ConfigError(
                f"source {self.name!r} is kind={self.kind!r}, not http"
            )
        return HttpSource(
            name=self.name,
            url=self.url,
            pagination=self.pagination,
            data_path=self.data_path,
            headers=self.headers,
            extra_params=self.params,
            retry=self.retry,
            dest_table=self.dest_table,
            primary_key=self.primary_key,
            max_concurrency=self.max_concurrency,
            min_request_interval_sec=self.min_request_interval_sec,
            auth=self.resolved_auth(),
        )


@dataclass
class TargetConfig:
    name: str
    kind: str = "postgres"  # postgres | duckdb (test stand-in)
    host: str = "localhost"
    port: int = 5432  # reference default, tests/pipeline/config_tests.rs
    database: str = ""
    schema: str = "public"
    username_env: str | None = None
    password_env: str | None = None
    path: str | None = None  # duckdb file

    @classmethod
    def from_dict(cls, d: dict) -> TargetConfig:
        if not d.get("name"):
            raise ConfigError("target requires a name")
        return cls(
            name=d["name"],
            kind=d.get("kind", "postgres"),
            host=d.get("host", "localhost"),
            port=int(d.get("port", 5432)),
            database=d.get("database", ""),
            schema=d.get("schema", "public"),
            username_env=d.get("username_env"),
            password_env=d.get("password_env"),
            path=d.get("path"),
        )

    def credentials(self) -> tuple[str, str]:
        """Resolve credentials from env vars; empty/missing is an error
        (reference src/pipeline/mod.rs env checks)."""
        if not self.username_env or not self.password_env:
            raise ConfigError(f"target {self.name!r}: username_env/password_env required")
        user = os.environ.get(self.username_env, "")
        pwd = os.environ.get(self.password_env, "")
        if not user or not pwd:
            raise ConfigError(
                f"target {self.name!r}: env {self.username_env}/{self.password_env} not set"
            )
        return user, pwd

    def conn_factory(self):
        """Picklable zero-arg DB-API connection factory for the writer."""
        if self.kind == "duckdb":
            path = self.path
            if not path:
                raise ConfigError(f"target {self.name!r}: duckdb target requires path")

            def duck():
                import duckdb

                return duckdb.connect(path)

            return duck
        if self.kind == "postgres":
            user, pwd = self.credentials()
            host, port, db = self.host, self.port, self.database

            def pg():
                try:
                    import psycopg2  # noqa: PLC0415

                    return psycopg2.connect(
                        host=host, port=port, dbname=db, user=user, password=pwd
                    )
                except ImportError:
                    # dependency-free fallback: our protocol-v3 client
                    # (sinks/pgwire.py) — same DB-API surface the writer
                    # needs, so the pipeline DSL works against a real
                    # Postgres even without psycopg installed
                    from apitap_spark.sinks import pgwire  # noqa: PLC0415

                    return pgwire.connect(
                        f"host={host} port={port} dbname={db} "
                        f"user={user} password={pwd}"
                    )

            return pg
        raise ConfigError(f"unknown target kind {self.kind!r}")


@dataclass
class Config:
    sources: dict[str, SourceConfig]
    targets: dict[str, TargetConfig]

    def source(self, name: str) -> SourceConfig:
        if name not in self.sources:
            raise ConfigError(f"unknown source {name!r}")
        return self.sources[name]

    def target(self, name: str) -> TargetConfig:
        if name not in self.targets:
            raise ConfigError(f"unknown target {name!r}")
        return self.targets[name]


def load_config(data: dict) -> Config:
    """Build + validate (duplicate names rejected, reference
    src/pipeline/mod.rs:238-261)."""
    sources: dict[str, SourceConfig] = {}
    for s in data.get("sources") or []:
        sc = SourceConfig.from_dict(s)
        if sc.name in sources:
            raise ConfigError(f"duplicate source name {sc.name!r}")
        sources[sc.name] = sc
    targets: dict[str, TargetConfig] = {}
    for t in data.get("targets") or []:
        tc = TargetConfig.from_dict(t)
        if tc.name in targets:
            raise ConfigError(f"duplicate target name {tc.name!r}")
        targets[tc.name] = tc
    return Config(sources=sources, targets=targets)


def load_config_from_path(path: str) -> Config:
    with open(path) as fh:
        return load_config(yaml.safe_load(fh) or {})
