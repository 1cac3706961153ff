"""add_docker_metadata / add_kubernetes_metadata / add_process_metadata
as broadcast-dimension enrichers — worked, semantics-faithful examples
of the generic :class:`~beats_spark.operators.enrich.BroadcastLookup`
shape for the three reference metadata processors.

The reference keeps a process-local cache fed by a watcher (docker
events API, kubelet watch, /proc); the Spark-native restatement ships
the same container/pod/process inventory as a small dimension table,
broadcast once per stage.  The fact side never shuffles: every tier
below is either a pure Column expression or a broadcast left join, so
at 100 TB each processor costs one map-side pass.

References:
- libbeat/processors/add_docker_metadata/add_docker_metadata.go:123-199
  (Run: source-path extract → cgroup PID lookup → match_fields; meta
  put of container.{id,name,image.name,labels} with label de-dotting)
  and config.go:42-51 (defaults: match_source, source index 4,
  match_pids [process.pid, process.ppid]).
- filebeat/processor/add_kubernetes_metadata/matchers.go:79-130
  (LogPathMatcher: pod-UID at path index 5 under /var/lib/kubelet/pods/,
  container id = 64 hex chars before ".log" under /var/log/containers/,
  else the 64 chars following logs_path).
- libbeat/processors/add_process_metadata/add_process_metadata.go:106-129
  (first PRESENT pid field wins; a dim miss leaves the event
  unenriched) and config.go:31-41 (the seven default process fields).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame
from .actions import Processor, guard_added_columns

#: container.id is a 64-char hex string (matchers.go:74)
_CID_LEN = 64

#: inline-dim row schemas (config-surface support: the reference's
#: processors are config-declared; a YAML pipeline can carry the
#: inventory rows inline instead of handing a DataFrame)
_DOCKER_DIM_SCHEMA = "id string, name string, image string, labels map<string,string>"
_DOCKER_DIM_FIELDS = ("id", "name", "image", "labels")
_PROCESS_DIM_SCHEMA = (
    "pid long, name string, title string, executable string, "
    "args array<string>, ppid long, start_time string"
)
_PROCESS_DIM_FIELDS = ("pid", "name", "title", "executable", "args", "ppid", "start_time")


def _resolve_dim(
    dim,
    df: DataFrame,
    schema: tuple[str, Sequence[str]] | None,
    keys: Sequence[str],
) -> DataFrame:
    """Accept a DataFrame dim directly, or a list of row mappings
    (the config surface) materialized against the fact df's session."""
    if isinstance(dim, DataFrame):
        return dim
    if dim is None:
        raise ValueError("metadata enrich needs a dim DataFrame or inline inventory rows")
    rows = list(dim)
    if not rows:
        raise ValueError("metadata dim: empty inventory")
    spark = df.sparkSession
    if schema is not None:
        ddl, fields = schema
        data = [tuple(r.get(f) for f in fields) for r in rows]
        return local_frame(spark, data, ddl)
    # uniform string metadata (k8s): key column + whatever flat dotted
    # metadata names the rows carry
    cols = list(rows[0].keys())
    for k in keys:
        if k not in cols:
            raise ValueError(f"metadata dim rows need a {k!r} field")
    data = [tuple(str(r[c]) if r.get(c) is not None else None for c in cols) for r in rows]
    return local_frame(spark, data, ", ".join(f"`{c}` string" for c in cols))


def _first_present(df: DataFrame, fields: Sequence[str]) -> Column:
    """The reference's field-resolution loop (GetValue err → continue,
    first present value wins) — flat-column analog: first non-NULL."""
    cols = [F.col(f"`{f}`") for f in fields if f in df.columns]
    if not cols:
        return F.lit(None).cast("string")
    return F.coalesce(*cols)


def _dedot_keys(m: Column) -> Column:
    """labels.dedot (add_docker_metadata.go:175-180): '.' in label keys
    becomes '_' so the flat-key document model can't nest them."""
    return F.transform_keys(m, lambda k, _v: F.replace(k, F.lit("."), F.lit("_")))


@dataclass
class AddDockerMetadata(Processor):
    """add_docker_metadata over a container dimension table.

    ``dim`` columns: ``id`` (full 64-hex container id), ``name``,
    ``image``, ``labels`` (map<string,string>).  CID resolution order
    is the reference's (add_docker_metadata.go:123-165):

    1. ``source_col`` log path, token ``source_index`` of the
       ``/``-split with empty tokens removed (the reference delegates
       to extract_field, which runs deleteEmpty — so index 4 hits the
       CID in ``/var/lib/docker/containers/<cid>/*.log``).
    2. ``pid_dim`` (pid → container id), tried over ``pid_fields`` in
       order — the cgroup-membership tier restated as a second
       broadcast dimension (a /proc scan is a driver concern, not a
       row transform).  Optional.
    3. ``match_fields``: first present field's value, verbatim.

    A dim hit sets ``container.id`` (the dim's FULL id — under
    ``match_short_id`` a 12-char prefix match still yields the full
    id, like the watcher's map), ``container.name``,
    ``container.image.name`` and de-dotted ``container.labels``; a
    miss leaves all four NULL (the reference leaves the event
    untouched on a cache miss, add_docker_metadata.go:190-192)."""

    dim: DataFrame | Sequence | None = None
    source_col: str = "log.file.path"
    source_index: int = 4
    match_fields: Sequence[str] = ()
    pid_fields: Sequence[str] = ("process.pid", "process.ppid")
    pid_dim: DataFrame | None = None
    match_short_id: bool = False
    dedot: bool = True
    #: config-surface alternative to ``dim``: inline inventory rows
    #: ({id, name, image, labels?}), materialized at apply time
    containers: Sequence | None = None

    def apply(self, df, guard=None):
        orig = df
        dim = _resolve_dim(
            self.dim if self.dim is not None else self.containers,
            df,
            (_DOCKER_DIM_SCHEMA, _DOCKER_DIM_FIELDS),
            ("id",),
        )
        tiers: list[Column] = []
        if self.source_col in df.columns:
            parts = F.split(F.col(f"`{self.source_col}`"), "/", -1)
            tiers.append(F.get(F.filter(parts, lambda p: p != F.lit("")), self.source_index))
        if self.pid_dim is not None:
            pdim = F.broadcast(
                self.pid_dim.select(
                    F.col("pid").cast("long").alias("_adm_pid"),
                    F.col("cid").alias("_adm_pid_cid"),
                )
            )
            df = df.join(
                pdim,
                _first_present(df, self.pid_fields).try_cast("long") == F.col("_adm_pid"),
                "left",
            ).drop("_adm_pid")
            tiers.append(F.col("_adm_pid_cid"))
        tiers.append(_first_present(df, self.match_fields))
        df = df.withColumn("_adm_cid", F.coalesce(*tiers))
        if "_adm_pid_cid" in df.columns:
            df = df.drop("_adm_pid_cid")

        meta = dim.select(
            F.col("id").alias("_adm_key"),
            F.col("id").alias("container.id"),
            F.col("name").alias("container.name"),
            F.col("image").alias("container.image.name"),
            (_dedot_keys(F.col("labels")) if self.dedot else F.col("labels")).alias(
                "container.labels"
            ),
        )
        if self.match_short_id:
            # the watcher also indexes the 12-char short id; keep the
            # join an equi-join (broadcastable) by materializing the
            # short key as extra lookup rows instead of a prefix theta
            meta = meta.unionByName(
                meta.withColumn("_adm_key", F.substring("_adm_key", 1, 12))
            )
        out = df.join(
            F.broadcast(meta), df["_adm_cid"] == meta["_adm_key"], "left"
        ).drop("_adm_cid", "_adm_key")
        return guard_added_columns(orig, out, guard)


@dataclass
class AddKubernetesMetadata(Processor):
    """add_kubernetes_metadata with the filebeat ``logs_path`` matcher.

    ``dim``: an index column ``key`` (container id, or pod UID for
    ``resource_type='pod'``) plus any ``kubernetes.*`` metadata
    columns to attach.  The index extraction is LogPathMatcher
    (filebeat/processor/add_kubernetes_metadata/matchers.go:79-130):

    - path must contain ``logs_path`` (normalized to trailing ``/``);
    - ``resource_type='pod'`` + logs_path under /var/lib/kubelet/pods/
      and a ``.log`` suffix → raw ``/``-split token 5 (the pod UID;
      NO empty-token removal here, unlike extract_field);
    - logs_path ``/var/log/containers/`` + ``.log`` suffix → the 64
      hex chars immediately before ``.log`` (the
      ``<pod>_<ns>_<container>-<cid>.log`` kubelet symlink layout);
    - otherwise → the 64 chars at the fixed offset len(logs_path),
      i.e. immediately after the configured prefix (the reference
      slices by absolute position after a substring-contains check;
      faithfully reproduced, quirks included).

    Too-short paths and non-matching paths yield no index → row left
    unenriched."""

    dim: DataFrame | Sequence | None = None
    logs_path: str = "/var/lib/docker/containers/"
    resource_type: str = "container"
    source_col: str = "log.file.path"
    #: config-surface alternative to ``dim``: inline rows carrying
    #: ``key`` plus flat ``kubernetes.*`` metadata strings
    pods: Sequence | None = None

    def _index_expr(self, src: Column) -> Column:
        lp = self.logs_path if self.logs_path.endswith("/") else self.logs_path + "/"
        contains = F.contains(src, F.lit(lp))
        if self.resource_type == "pod":
            ok = (
                contains
                & F.lit(lp.startswith("/var/lib/kubelet/pods/"))
                & src.endswith(".log")
            )
            return F.when(ok, F.get(F.split(src, "/", -1), 5))
        slen = F.length(src)
        if lp == "/var/log/containers/":
            ok = contains & src.endswith(".log") & (slen >= _CID_LEN + 4)
            return F.when(ok, F.substring(src, slen - (_CID_LEN + 4) + 1, _CID_LEN))
        ok = contains & (slen >= len(lp) + _CID_LEN)
        return F.when(ok, F.substring(src, len(lp) + 1, _CID_LEN))

    def apply(self, df, guard=None):
        if self.source_col not in df.columns:
            return df
        orig = df
        dim = _resolve_dim(
            self.dim if self.dim is not None else self.pods, df, None, ("key",)
        )
        df = df.withColumn("_akm_key", self._index_expr(F.col(f"`{self.source_col}`")))
        meta = dim.withColumnRenamed("key", "_akm_dim_key")
        out = df.join(
            F.broadcast(meta), df["_akm_key"] == meta["_akm_dim_key"], "left"
        ).drop("_akm_key", "_akm_dim_key")
        return guard_added_columns(orig, out, guard)


#: the default (non-restricted) process fields, config.go:31-41
PROCESS_FIELDS = ("name", "title", "executable", "args", "pid", "ppid", "start_time")


@dataclass
class AddProcessMetadata(Processor):
    """add_process_metadata over a process dimension table.

    ``dim``: ``pid`` (long) plus any of :data:`PROCESS_FIELDS`.  The
    event's pid is the first PRESENT ``match_pids`` field
    (add_process_metadata.go:106-129: GetValue-missing → next field;
    note the reference STOPS at the first present field even when the
    provider then misses — a dim miss therefore leaves the row
    unenriched, it does not fall through to the next pid field).
    String pids are accepted via try_cast (the reference Atoi-errors
    the event; dirty strings here resolve like a provider miss, which
    keeps the job alive under ANSI mode).

    ``overwrite_keys=False`` (the default) refuses at COMPILE time if
    a target column already exists — the reference errors per event
    (add_process_metadata.go:164-167)."""

    dim: DataFrame | Sequence | None = None
    match_pids: Sequence[str] = ()
    target: str = "process"
    include_fields: Sequence[str] | None = None
    overwrite_keys: bool = False
    #: config-surface alternative to ``dim``: inline process rows
    #: ({pid, name, title, executable, args, ppid, start_time})
    processes: Sequence | None = None

    def apply(self, df, guard=None):
        orig = df
        fields = tuple(self.include_fields) if self.include_fields else PROCESS_FIELDS
        unknown = [f for f in fields if f not in PROCESS_FIELDS]
        if unknown:
            raise ValueError(f"add_process_metadata: unknown include_fields {unknown}")
        prefix = f"{self.target}." if self.target else ""
        targets = [f"{prefix}{f}" for f in fields]
        if not self.overwrite_keys:
            clash = [t for t in targets if t in df.columns]
            if clash:
                raise ValueError(
                    f"add_process_metadata: target fields exist and "
                    f"overwrite_keys is false: {clash}"
                )
        if not self.match_pids:
            raise ValueError("add_process_metadata: match_pids is required")
        dim = _resolve_dim(
            self.dim if self.dim is not None else self.processes,
            df,
            (_PROCESS_DIM_SCHEMA, _PROCESS_DIM_FIELDS),
            ("pid",),
        )
        pid = _first_present(df, self.match_pids).try_cast("long")
        df = df.withColumn("_apm_pid", pid)
        pairs = [
            (f, t) for f, t in zip(fields, targets) if f in dim.columns
        ]
        # dim columns land under temp names: a target that already
        # exists (overwrite_keys=True) must not create a DUPLICATE
        # column through the join — a dim hit overwrites, a miss
        # keeps the event's value (add_process_metadata.go:164-167)
        meta = dim.select(
            F.col("pid").cast("long").alias("_apm_dim_pid"),
            *[F.col(f).alias(f"_apm_v_{i}") for i, (f, _) in enumerate(pairs)],
        )
        out = df.join(
            F.broadcast(meta), df["_apm_pid"] == meta["_apm_dim_pid"], "left"
        )
        for i, (_, t) in enumerate(pairs):
            new_val = F.col(f"_apm_v_{i}")
            if t in orig.columns:
                new_val = F.coalesce(new_val, F.col(f"`{t}`"))
            if guard is not None:
                old_val = (
                    F.col(f"`{t}`") if t in orig.columns else F.lit(None)
                )
                new_val = F.when(guard, new_val).otherwise(old_val)
            out = out.withColumn(t, new_val)
        return out.drop(
            "_apm_pid", "_apm_dim_pid",
            *[f"_apm_v_{i}" for i in range(len(pairs))],
        )
