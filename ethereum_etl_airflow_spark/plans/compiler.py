"""Extraction-spec -> DataFrame pipeline compiler.

The reference compiles each table-definition JSON into (1) a JS decode
UDF (``parse_logs_udf.sql:1-47``) and (2) a parse SQL view
(``parse_logs.sql``: selector filter at :31, contract filter at
:22-30, UDF call + struct expansion at :43-53, null rejection at :54).
This module is the Spark-first equivalent: a spec becomes

    scan -> selector filter (P4/P5)
         -> contract filter: literal .isin / left-semi join (P6/J7)
         -> payload decode (from_json — JVM, codegen; or the pandas
            UDF fallback for non-JSON payloads, F1-F3 discipline)
         -> metadata + decoded-field projection, typed casts (P1/P2)
         -> parse-failure rejection (P9)

No SQL text is generated: the "compiled form" IS the DataFrame plan,
and Catalyst does pushdown/pruning on it (SURVEY §4 — decorrelation,
predicate pushdown are built-in where the reference hand-rolled them).

The feed's generic shape here is the testdata ``events`` table
(event_id/ts/user_id/event_type/value/props) standing in for logs:
``event_type`` is topic0, ``props`` is the undecoded payload,
``user_id`` is the emitting address, (``event_id``) the order key.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ethereum_etl_airflow_spark.plans.spec import REF_REGEX, ExtractionSpec

#: quoted addresses inside the reference's inline
#: ``SELECT * FROM UNNEST(['0x..', ...])`` contract_address form
#: (259 of the 7,062 corpus defs; grammar pinned by the published
#: JSON-Schema's fourth anyOf branch)
_UNNEST_ADDR_RE = re.compile(r"'(0x[a-f0-9]{40})'")


def _contract_literals(ca: str) -> list[str]:
    """The literal address set of a non-ref contract_address: a bare
    literal (or comma list), or the inline UNNEST address-list subquery
    — the reference inlines either into ``address IN (...)``
    (parse_logs.sql:28-31); the engine compiles the same set to a
    pushed-down ``isin``."""
    if "UNNEST" in ca:
        return _UNNEST_ADDR_RE.findall(ca)
    return [v.strip() for v in ca.split(",")]


#: bare engine-native ref form — semi-join on the upstream's address
#: column directly, no SQL round-trip
_BARE_REF_RE = re.compile(r"^\s*ref\(\s*'[^']+'\s*\)\s*$")


def _ref_view_name(spec_name: str) -> str:
    """Temp-view name for a ``ref('X')`` upstream: letters and digits
    pass through and every other character becomes ``_<hex code>_``,
    so distinct spec names never share a view (``a.b_c`` and
    ``a_b.c`` stay apart)."""
    return "__contract_ref_" + re.sub(
        r"[^A-Za-z0-9]", lambda m: f"_{ord(m.group()):x}_", spec_name
    )


def _apply_contract_filter(out: DataFrame, ca, resolve_ref, spec_name: str):
    """P6/J7: the contract-address gate, all four corpus forms.

    The reference inlines ``contract_address`` into the parse view as
    ``address IN (<subquery-or-literals>)`` (parse_logs.sql:18-31).
    Engine equivalents, by form (census of all 7,062 corpus defs):

    * literal / comma list / UNNEST list (5,590 + 259 defs) — pushed
      ``isin`` on the emitting address;
    * ``ref('X')``-bearing SQL (1,188 defs — ``SELECT col FROM
      ref('X')``, DISTINCT / WHERE / UNION ALL / EXCEPT compositions)
      — the subquery is compiled by Spark SQL itself with every
      ``ref('X')`` bound to a temp view of the resolved upstream
      output, then applied as a left-semi join on its single output
      column (Catalyst broadcasts the small address side);
    * bare ``ref('X')`` (engine-native shorthand) — semi-join on the
      upstream's ``user_id``.
    """
    if not ca:
        return out
    refs = REF_REGEX.findall(ca)
    if refs:
        if resolve_ref is None:
            raise ValueError(f"spec {spec_name} needs resolve_ref for {refs[0]}")
        if _BARE_REF_RE.match(ca):
            addrs = resolve_ref(refs[0]).select(F.col("user_id").alias("__addr"))
        else:
            spark = out.sparkSession
            for r in set(refs):
                resolve_ref(r).createOrReplaceTempView(_ref_view_name(r))
            sql = REF_REGEX.sub(lambda m: _ref_view_name(m.group(1)), ca)
            res = spark.sql(sql)
            if len(res.columns) != 1:
                raise ValueError(
                    f"spec {spec_name}: contract_address subquery must return "
                    f"one column, got {len(res.columns)}: {res.columns}"
                )
            addrs = res.select(F.col(res.columns[0]).alias("__addr"))
        return out.join(addrs, out["user_id"] == addrs["__addr"], "left_semi")
    return out.where(F.col("user_id").cast("string").isin(_contract_literals(ca)))

#: metadata columns every parsed table carries (the implicit schema of
#: parse_table_definition_logic.py:428-481)
META_COLUMNS = ("event_id", "ts", "user_id")


def decoded_struct_type(spec: ExtractionSpec) -> T.StructType:
    return T.StructType(
        [T.StructField(f.name, _spark_type(f.type), True) for f in spec.parser.fields]
    )


def _path_key(path: str) -> str:
    """Top-level JSON key of a '$.key' path (grammar enforced by parse_spec)."""
    return path[2:] if path.startswith("$.") else path


def _spark_type(name: str) -> T.DataType:
    return {
        "string": T.StringType(),
        "bigint": T.LongType(),
        "int": T.IntegerType(),
        "double": T.DoubleType(),
        "boolean": T.BooleanType(),
        "decimal(38,9)": T.DecimalType(38, 9),
    }[name]


def compile_spec(
    spec: ExtractionSpec,
    source: DataFrame,
    resolve_ref=None,
    error_column: bool = False,
) -> DataFrame:
    """Compile one spec against a source DataFrame.

    ``resolve_ref(name) -> DataFrame`` supplies the output of another
    spec when contract_address is a ``ref('X')`` expression (the
    dynamic contract-set case, parse_logs.sql:18-25 — compiled to a
    left-semi join; Catalyst would build the same plan from an IN
    subquery, §2.2 P7).

    Hex-encoded specs (``parser.encoding == 'hex'``) route to
    :func:`compile_spec_hex` — ABI data+topics decode."""
    p = spec.parser
    if p.encoding == "hex":
        return compile_spec_hex(spec, source, resolve_ref, error_column)

    # P5: selector predicate (topics[SAFE_OFFSET(0)] = selector)
    out = source.where(F.col("event_type") == p.selector)

    # P6/J7: contract filter — literal set / compiled ref subquery
    out = _apply_contract_filter(out, p.contract_address, resolve_ref, spec.name)

    # F1-F3: payload decode. JSON payloads decode JVM-side (from_json,
    # whole-stage codegen — the fast path). Failure handling follows the
    # reference's two UDF styles:
    #   log parse  (default)      -> undecodable rows DROPPED
    #                                (P9, parse_logs_udf.sql:12-16)
    #   trace parse (error_column) -> row kept, `error` column filled
    #                                (parse_traces_udf.sql:24-27)
    # from_json yields an all-null struct (not NULL) on malformed input,
    # so failure detection uses columnNameOfCorruptRecord: a corrupt
    # payload lands verbatim in _corrupt.
    # Decode schema is keyed by each field's JSON *path* key (path is
    # validated to the single-level '$.key' grammar in parse_spec), so a
    # field whose path aliases a different payload key decodes correctly
    # — matching compile_spec_pandas, which always honored path.
    key_types: dict[str, T.DataType] = {}
    for f in spec.parser.fields:
        key_types.setdefault(_path_key(f.path), _spark_type(f.type))
    decode_schema = T.StructType(
        [T.StructField(k, t, True) for k, t in key_types.items()]
        + [T.StructField("_corrupt", T.StringType())]
    )
    out = out.withColumn(
        "_decoded",
        F.from_json(
            F.col("props"),
            decode_schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ),
    )
    failed = F.col("_decoded").isNull() | F.col("_decoded._corrupt").isNotNull()
    if error_column:
        err = F.when(
            failed,
            F.concat(F.lit("parse failure: "), F.coalesce(F.col("props"), F.lit("<null>"))),
        )
    else:
        out = out.where(~failed)  # P9

    # P1/P2: metadata + expanded decoded fields with typed casts
    cols = [F.col(c) for c in META_COLUMNS]
    cols += [
        F.col(f"_decoded.{_path_key(f.path)}").cast(_spark_type(f.type)).alias(f.name)
        for f in spec.parser.fields
    ]
    if error_column:
        cols.append(err.alias("error"))
    return out.select(*cols)


def compile_spec_hex(
    spec: ExtractionSpec,
    source: DataFrame,
    resolve_ref=None,
    error_column: bool = False,
) -> DataFrame:
    """Compile a hex-encoded (ABI) spec: the real decode path of the
    reference's parse stage (parse_logs_udf.sql:1-47 JS UDF semantics:
    null-on-failure, lowercased addresses, recursive tuple decode,
    indexed-dynamic params as their keccak hash; struct typegen
    parse_table_definition_logic.py:389-406 incl. nested RECORD/REPEATED).

    Source shape: META_COLUMNS + ``data`` (hex string) + ``topics``
    (array<string>, topics[0] = selector). Plan:

        scan -> selector filter (JVM, pushed to the parquet scan)
             -> contract filter (literal isin / ref semi-join)
             -> Arrow-batched vectorized ABI decode (mapInPandas —
                numpy gathers, no per-row Python in the word math)
             -> failure rejection (log) or error column (trace)
    """
    from ethereum_etl_airflow_spark.plans.abi import parse_abi_type, spark_type

    p = spec.parser

    # selector: events match topic0; calls match the 4-byte data prefix
    # (parse_logs.sql:31 / parse_traces.sql selector filters)
    if p.type == "log":
        # F.get (0-based, NULL on missing index) — the SAFE_OFFSET(0)
        # analogue: a feed can carry EMPTY topics arrays (anonymous
        # logs, call/trace rows in a mixed feed), which GetArrayItem
        # rejects with INVALID_ARRAY_INDEX under ANSI mode instead of
        # filtering. element_at is also out: it trips a whole-stage-
        # codegen bug ("isNull not an rvalue") that silently drops the
        # filter stage to interpreted execution.
        out = source.where(F.get(F.col("topics"), 0) == p.selector)
    else:
        # call input = 4-byte selector + ABI-encoded args: filter on the
        # prefix, then strip it so the decoder sees only the args tuple
        out = source.where(F.col("data").startswith(p.selector)).withColumn(
            "data", F.substring(F.col("data"), len(p.selector) + 1, 1 << 30)
        )

    out = _apply_contract_filter(out, p.contract_address, resolve_ref, spec.name)

    field_triples = [(f.name, f.abi_type, f.indexed) for f in p.fields]
    decoded_types = {
        f.name: spark_type(parse_abi_type(f.abi_type)) for f in p.fields
    }
    meta_fields = [T.StructField(c, out.schema[c].dataType) for c in META_COLUMNS]
    schema = T.StructType(
        meta_fields
        + [T.StructField(n, decoded_types[n], True) for n, _t, _i in field_triples]
        + ([T.StructField("error", T.StringType(), True)] if error_column else [])
    )
    meta_cols = list(META_COLUMNS)
    keep_failed = error_column

    def run(batches):
        import pandas as pd

        from ethereum_etl_airflow_spark.plans.abi import decode_batch, parse_abi_type

        fields = [(n, parse_abi_type(a), ix) for n, a, ix in field_triples]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            decoded, fail = decode_batch(
                pdf["data"].tolist(), pdf["topics"].tolist(), fields
            )
            cols = {c: pdf[c].values for c in meta_cols}
            for n, _t, _i in field_triples:
                cols[n] = decoded.get(n)
            res = pd.DataFrame(cols)
            if keep_failed:
                res["error"] = ["decode failure" if f else None for f in fail]
            else:
                res = res[~fail]
            yield res

    decoded = out.mapInPandas(run, schema)

    # real reference defs declare the output contract in table.schema
    # (STRING for every scalar in all 7,062 defs — the JS UDF emits
    # strings): coerce primitive / primitive-array decodes to string so
    # a migrated user sees the reference's column types. RECORD (tuple)
    # columns keep the decoded struct; engine-native specs (no
    # out_type) keep engine typing.
    coerce = {}
    for f in p.fields:
        if (f.out_type or "").upper() != "STRING":
            continue
        dt = decoded_types[f.name]
        if isinstance(dt, T.ArrayType):
            if not isinstance(
                dt.elementType, (T.ArrayType, T.StructType, T.MapType)
            ):
                coerce[f.name] = F.col(f.name).cast("array<string>")
        elif not isinstance(dt, (T.StringType, T.StructType)):
            coerce[f.name] = F.col(f.name).cast("string")
    return decoded.withColumns(coerce) if coerce else decoded


def compile_spec_pandas(spec: ExtractionSpec, source: DataFrame) -> DataFrame:
    """The vectorized-UDF decode path — the shape a real ABI/binary
    decoder takes (reference: per-table JS UDF, parse_logs_udf.sql;
    north rule: 'vectorized Arrow UDFs only, no per-row Python').
    Arrow moves each batch into pandas; the decode is a self-contained
    closure (workers need no package import)."""
    import pandas as pd  # noqa: F401

    schema = T.StructType(
        [T.StructField(c, source.schema[c].dataType) for c in META_COLUMNS]
        + list(decoded_struct_type(spec).fields)
    )
    selector = spec.parser.selector
    fields = [(f.name, f.path, f.type) for f in spec.parser.fields]
    meta_cols = list(META_COLUMNS)

    def run(batches):
        import json as _json

        import pandas as pd

        def decode_or_none(s):
            try:
                d = _json.loads(s)
                return d if isinstance(d, dict) else None
            except Exception:
                return None

        for pdf in batches:
            pdf = pdf[pdf["event_type"] == selector]
            decoded = pdf["props"].map(decode_or_none)
            keep = decoded.notna()
            pdf, decoded = pdf[keep], decoded[keep]
            out = {c: pdf[c].values for c in meta_cols}
            for name, path, typ in fields:
                key = path[2:] if path.startswith("$.") else path
                vals = decoded.map(lambda d, k=key: d.get(k))
                if typ in ("bigint", "int"):
                    vals = pd.to_numeric(vals, errors="coerce").astype("Int64")
                elif typ == "double":
                    vals = pd.to_numeric(vals, errors="coerce")
                out[name] = vals.values
            yield pd.DataFrame(out)

    return source.mapInPandas(run, schema)
