"""Stream catalog: URI -> (path, schema, schema-hash, delivery mode).

Re-expresses selium's two naming layers in one Spark-native object:

- **Atlas** (URI -> endpoint registry with glob lookup; reference:
  ``examples/data-pipeline/src/lib.rs:22-24`` insert,
  ``examples/waf/src/lib.rs:91-99`` exact get,
  ``examples/log-analyser/src/lib.rs:48`` pattern lookup).
- **SchemaDescriptor** (16-byte content hash as schema identity;
  reference: ``system/userland/macros/src/schema.rs:48-50``,
  ``system/userland/src/encoding.rs:56-62``). We hash the canonical
  schema JSON with blake2b-128 and enforce strict equality on
  subscribe/publish, surfacing mismatch as an analysis-time error.

Delivery mode mirrors the channel backpressure policy fixed at creation
(``subsystem/messaging/src/lib.rs:36-41``): ``park`` == lossless
(checkpointed streaming reads), ``drop`` == lossy telemetry
(latest-offsets, no checkpoint; loss is *reported*, never silent).

Scale note: the catalog is driver-side metadata only (dict -> path);
at 100 TB it would be backed by a metastore, but no data flows through
it — reads stay declarative `spark.read(Stream).parquet(path)` so
Catalyst retains pushdown/pruning.
"""

from __future__ import annotations

import fnmatch
import hashlib
import json
from dataclasses import dataclass, field
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .sources.tables import TABLES
from .streaming.replay import file_stream


class SchemaMismatchError(ValueError):
    """Strict schema-hash inequality at subscribe/publish time.

    Mirrors selium's schema identity check: a new hash is a new schema
    (``AGENTS.md`` policy; ``encoding.rs:56-62``).
    """


def _canonicalize(dt: T.DataType) -> T.DataType:
    """Schema identity = the (name, type) tree: nullability flags and
    field metadata are normalized away (Spark flips nullable freely
    across parquet round-trips and createDataFrame paths)."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _canonicalize(f.dataType), True) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_canonicalize(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_canonicalize(dt.keyType), _canonicalize(dt.valueType), True)
    return dt


def schema_hash(schema: T.StructType) -> str:
    """16-byte content hash of a canonical schema JSON (blake2b-128).

    Same role as the reference's 16-byte BLAKE3 .fbs content hash
    (``system/userland/macros/src/schema.rs:48-50``).
    """
    canonical = json.dumps(
        _canonicalize(schema).jsonValue(), sort_keys=True, separators=(",", ":")
    )
    return hashlib.blake2b(canonical.encode(), digest_size=16).hexdigest()


@dataclass
class StreamEntry:
    uri: str
    path: str
    schema: T.StructType
    mode: str = "park"  # "park" (lossless) | "drop" (lossy)
    fmt: str = "parquet"
    hash: str = field(init=False)

    def __post_init__(self) -> None:
        if self.mode not in ("park", "drop"):
            raise ValueError(f"mode must be 'park' or 'drop', got {self.mode!r}")
        self.hash = schema_hash(self.schema)


class StreamCatalog:
    """URI registry with glob lookup — the engine's Atlas."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._entries: dict[str, StreamEntry] = {}

    # -- Atlas surface ----------------------------------------------------
    def insert(
        self,
        uri: str,
        path: str,
        schema: T.StructType | str | None = None,
        mode: str = "park",
        fmt: str = "parquet",
    ) -> StreamEntry:
        """Register an endpoint (atlas.insert). Schema may be a
        StructType, DDL string, or None (inferred from parquet footer)."""
        if schema is None:
            schema = self.spark.read.format(fmt).load(path).schema
        elif isinstance(schema, str):
            parsed = T._parse_datatype_string(schema)
            assert isinstance(parsed, T.StructType)
            schema = parsed
        entry = StreamEntry(uri=uri, path=path, schema=schema, mode=mode, fmt=fmt)
        self._entries[uri] = entry
        return entry

    def get(self, uri: str) -> StreamEntry:
        """Exact lookup (atlas.get); KeyError if absent."""
        return self._entries[uri]

    def lookup(self, pattern: str) -> list[StreamEntry]:
        """Glob lookup (atlas.lookup) -> all matching endpoints."""
        return [e for u, e in sorted(self._entries.items()) if fnmatch.fnmatch(u, pattern)]

    def __contains__(self, uri: str) -> bool:
        return uri in self._entries

    def uris(self) -> Iterator[str]:
        return iter(sorted(self._entries))

    # -- schema gatekeeping ----------------------------------------------
    def check(self, uri: str, expected_hash: str) -> StreamEntry:
        entry = self.get(uri)
        if entry.hash != expected_hash:
            raise SchemaMismatchError(
                f"schema hash mismatch for {uri}: catalog={entry.hash} caller={expected_hash}"
            )
        return entry

    # -- batch / streaming readers ---------------------------------------
    def read(self, uri: str, expected_hash: str | None = None) -> DataFrame:
        """Batch read (the oracle-comparable twin of subscribe)."""
        entry = self.check(uri, expected_hash) if expected_hash else self.get(uri)
        return self.spark.read.schema(entry.schema).format(entry.fmt).load(entry.path)

    def read_stream(
        self,
        uri: str,
        expected_hash: str | None = None,
        max_files_per_trigger: int | None = None,
    ) -> DataFrame:
        """Streaming subscribe (S2 strong / S3 weak by entry mode).

        ``park`` -> lossless, checkpointed by the caller's query;
        ``maxFilesPerTrigger`` is the Park backpressure analogue.
        ``drop`` -> caller should run with `latest` semantics and no
        checkpoint; loss is surfaced by the engine's metrics listener.
        """
        entry = self.check(uri, expected_hash) if expected_hash else self.get(uri)
        return file_stream(
            self.spark, entry.path, entry.schema, entry.fmt, max_files_per_trigger
        )

    def subscribe_pattern(self, pattern: str) -> DataFrame:
        """Merge of every endpoint matching a glob (W6 union; reference
        ``examples/log-analyser/src/lib.rs:48-54``)."""
        from functools import reduce

        entries = self.lookup(pattern)
        if not entries:
            raise KeyError(f"no catalog entries match {pattern!r}")
        hashes = {e.hash for e in entries}
        if len(hashes) > 1:
            raise SchemaMismatchError(
                f"pattern {pattern!r} matches multiple schemas: {sorted(hashes)}"
            )
        dfs = [self.read_stream(e.uri) for e in entries]
        return reduce(DataFrame.unionByName, dfs)

    # -- persistence (metastore story) ------------------------------------
    def save(self, path: str) -> None:
        """Persist the catalog as JSON (at scale: a metastore table).
        Only metadata travels — no data moves through the catalog."""
        payload = [
            {
                "uri": e.uri,
                "path": e.path,
                "schema": e.schema.jsonValue(),
                "mode": e.mode,
                "fmt": e.fmt,
            }
            for e in self._entries.values()
        ]
        with open(path, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "StreamCatalog":
        cat = cls(spark)
        with open(path) as f:
            for e in json.load(f):
                schema = T.StructType.fromJson(e["schema"])
                cat.insert(e["uri"], e["path"], schema=schema, mode=e["mode"], fmt=e["fmt"])
        return cat

    # -- capability sessions (P4) ----------------------------------------
    def restrict(self, allowed: list[str]) -> "RestrictedCatalog":
        """Capability view: a catalog handle that can only touch the
        given URI globs. Mirrors selium's capability sessions / per-
        process entitlements (system/abi/src/hostcalls.rs:122-157;
        deny-stubs subsystem/wasmtime/src/lib.rs:295-312): a query built
        against the restricted view simply cannot name other streams.
        """
        return RestrictedCatalog(self, allowed)

    # -- convenience: register the driver testdata tables ----------------
    def register_testdata(self, sf_dir: str, prefix: str = "sel://testdata") -> None:
        for name in TABLES:
            self.insert(f"{prefix}/{name}", f"{sf_dir}/{name}.parquet")


class CapabilityError(PermissionError):
    """URI access outside the session's capability set."""


class RestrictedCatalog:
    """Deny-by-default view over a StreamCatalog (see
    StreamCatalog.restrict)."""

    def __init__(self, base: StreamCatalog, allowed: list[str]):
        self._base = base
        self._allowed = list(allowed)

    def _check(self, uri: str) -> None:
        if not any(fnmatch.fnmatch(uri, pat) for pat in self._allowed):
            raise CapabilityError(f"capability set {self._allowed} does not grant {uri!r}")

    def get(self, uri: str) -> StreamEntry:
        self._check(uri)
        return self._base.get(uri)

    def lookup(self, pattern: str) -> list[StreamEntry]:
        return [e for e in self._base.lookup(pattern) if self._is_allowed(e.uri)]

    def _is_allowed(self, uri: str) -> bool:
        return any(fnmatch.fnmatch(uri, pat) for pat in self._allowed)

    def read(self, uri: str, expected_hash: str | None = None) -> DataFrame:
        self._check(uri)
        return self._base.read(uri, expected_hash)

    def read_stream(self, uri: str, **kw) -> DataFrame:
        self._check(uri)
        return self._base.read_stream(uri, **kw)

    def subscribe_pattern(self, pattern: str) -> DataFrame:
        from functools import reduce

        entries = self.lookup(pattern)
        if not entries:
            raise KeyError(f"no granted catalog entries match {pattern!r}")
        return reduce(
            DataFrame.unionByName, [self.read_stream(e.uri) for e in entries]
        )
