"""dbt-SQL project loader: build an Engine Registry from a directory of
``models/<layer>/**/*.sql`` files in the reference's dialect — the
migration path for a user holding an existing dbt project
(`dbt_project.yml:9-19` model tree; model files like
`silver_iot_events.sql:1-22`).

Supported templating (the constructs the reference's files actually
use, rendered with regex + literal-eval — no Jinja engine needed):

- ``{{ config(materialized='...', meta={'target_schema': ...}) }}``
  → materialization + schema routing (keyword args must be literals)
- ``{{ ref('model_name') }}``   → the upstream model's registered temp
  view; refs found become ``depends_on`` edges automatically
- ``{{ source('src', 'tbl') }}`` → pre-registered view ``src__tbl``
  (the caller registers landing views before ``run()``)
- ``{{ var('name', default) }}`` → engine config vars
- ``STREAM( x )``               → x  (batch rendering: the loader
  renders ``streaming_table`` models as tables, and from a table
  ``ModelContext.stream`` is ``ref`` — the same batch view of the DAG
  `dbt run` gives STREAM refs on a non-DLT target; the real readStream
  path is ``ModelContext.stream`` from a streaming_table model)
- ``STREAM read_files('<path>', format => '<fmt>')`` (Databricks Auto
  Loader table function, `bronze_iot_events.sql:12-15`) → a landing
  view the model's builder registers on every run through its
  format's batch reader (sources/json_source.py, files.py: json, csv,
  text, parquet, orc), which infers a json/csv schema afresh on each
  run — not the stream readers' infer-once contract

Materializations map: ``view``/``table`` as-is; ``streaming_table`` →
``table`` under batch rendering (noted in the model description);
``incremental`` → dbt's append-style incremental model: the first run
renders ``is_incremental()`` as false and builds the full table, later
runs render it true with ``{{ this }}`` bound to the existing table and
APPEND the result (the engine's incremental sink) — the standard
"process only rows newer than max(ts) in {{ this }}" pattern.

Scale note: loading is driver-side string work on a handful of files;
the resulting builders are ``spark.sql`` over temp views, so Catalyst
sees one composed logical plan per model — identical optimization
surface to the hand-written DataFrame pipeline.
"""

from __future__ import annotations

import re
from pathlib import Path
from typing import Any

from .model import Model, Registry

_CONFIG_RE = re.compile(r"\{\{\s*config\((.*?)\)\s*\}\}", re.DOTALL)
_REF_RE = re.compile(r"""\{\{\s*ref\(\s*['"]([^'"]+)['"]\s*\)\s*\}\}""")
_SOURCE_RE = re.compile(
    r"\{\{\s*source\(\s*'([^']+)'\s*,\s*'([^']+)'\s*\)\s*\}\}")
_VAR_RE = re.compile(
    r"""\{\{\s*var\(\s*['"]([^'"]+)['"]\s*(?:,\s*([^)]+?)\s*)?\)\s*\}\}""")
_STREAM_RE = re.compile(r"\bSTREAM\s*\(", re.IGNORECASE)
_IS_INCR_RE = re.compile(r"\{\{\s*is_incremental\(\)\s*\}\}")
_THIS_RE = re.compile(r"\{\{\s*this\s*\}\}")
_READ_FILES_RE = re.compile(
    r"(?:STREAM\s+)?read_files\(\s*'([^']+)'\s*,\s*format\s*=>\s*"
    r"'(\w+)'\s*\)", re.IGNORECASE)


def parse_config(text: str) -> dict[str, Any]:
    """Extract the ``{{ config(...) }}`` kwargs as a dict (literals
    only — the reference uses nothing else)."""
    m = _CONFIG_RE.search(text)
    if not m:
        return {}
    body = m.group(1)
    try:
        # Jinja spells booleans/none lowercase — accept both casings
        return eval(f"dict({body})",  # noqa: S307 — literal kwargs only
                    {"__builtins__": {}},
                    {"dict": dict, "true": True, "false": False,
                     "none": None, "True": True, "False": False,
                     "None": None})
    except Exception as e:
        raise ValueError(f"unparseable config block: {body!r}") from e


_IF_INCR_BLOCK_RE = re.compile(
    r"\{%\s*if\s+is_incremental\(\)\s*%\}(.*?)\{%\s*endif\s*%\}",
    re.DOTALL)


def render_sql(text: str, name_to_view: dict[str, str],
               config_vars: dict[str, Any], *,
               incremental: bool = False,
               this_view: str | None = None
               ) -> tuple[str, list[str], list[tuple[str, str, str]]]:
    """Render a model body to executable Spark SQL; returns
    ``(sql, referenced_model_names, landing_views)`` where each landing
    view is a ``(view_name, path, format)`` triple the builder must
    materialize before executing the SQL."""
    refs: list[str] = []

    def ref_sub(m: re.Match) -> str:
        refs.append(m.group(1))
        try:
            return name_to_view[m.group(1)]
        except KeyError:
            raise ValueError(f"ref to unknown model {m.group(1)!r}")

    sql = _CONFIG_RE.sub("", text)
    # dbt incremental templating: {% if is_incremental() %}...{% endif %}
    # keeps its body only on incremental runs; bare {{ is_incremental() }}
    # renders a boolean literal; {{ this }} binds to the existing table
    sql = _IF_INCR_BLOCK_RE.sub(
        (lambda m: m.group(1)) if incremental else "", sql)
    sql = _IS_INCR_RE.sub("true" if incremental else "false", sql)
    if this_view is not None:
        sql = _THIS_RE.sub(this_view, sql)
    sql = _REF_RE.sub(ref_sub, sql)
    sql = _SOURCE_RE.sub(lambda m: f"{m.group(1)}__{m.group(2)}", sql)

    def var_sub(m: re.Match) -> str:
        name, default = m.group(1), m.group(2)
        if name in config_vars:
            return str(config_vars[name])
        if default is not None:
            return default.strip("'\"")
        raise ValueError(f"undefined var {name!r} with no default")

    sql = _VAR_RE.sub(var_sub, sql)

    landings: list[tuple[str, str, str]] = []   # (view, path, fmt)

    def read_files_sub(m: re.Match) -> str:
        view = f"read_files_{len(landings)}_{abs(hash(m.group(1))) % 10**6}"
        landings.append((view, m.group(1), m.group(2).lower()))
        return view

    sql = _READ_FILES_RE.sub(read_files_sub, sql)
    # batch rendering of streaming refs: STREAM(x) → (x)
    sql = _STREAM_RE.sub("(", sql)
    return sql.strip().rstrip(";").strip(), refs, landings


def load_project_yml(project_root: str | Path) -> dict[str, Any]:
    """Parse ``dbt_project.yml``: project ``vars`` plus per-layer
    ``+materialized`` / ``+schema`` defaults (`dbt_project.yml:6-19`).
    Returns ``{"vars": {...}, "layer_defaults": {layer: {...}}}``."""
    import yaml

    yml = Path(project_root) / "dbt_project.yml"
    if not yml.exists():
        return {"vars": {}, "layer_defaults": {}}
    doc = yaml.safe_load(yml.read_text()) or {}
    layer_defaults: dict[str, dict] = {}
    for _proj, tree in (doc.get("models") or {}).items():
        if not isinstance(tree, dict):
            continue
        for layer, cfg in tree.items():
            if isinstance(cfg, dict):
                layer_defaults[layer] = {
                    k.lstrip("+"): v for k, v in cfg.items()
                    if k.startswith("+")}
    return {"vars": doc.get("vars") or {}, "layer_defaults": layer_defaults}


def effective_schema(cfg: dict[str, Any], layer: str,
                     layer_defaults: dict[str, dict]) -> str:
    """A model's schema: its config ``meta.target_schema`` > its layer's
    ``+schema`` default > the layer.  ``Engine.register`` names a
    relation ``<schema>.<stem>`` (temp view ``<schema>__<stem>``), so
    depends_on edges, rendered view names and test bindings must all
    use this, not the directory layer — building them from the layer
    broke every schema-routed project (unknown dependency at toposort,
    or TABLE_OR_VIEW_NOT_FOUND at run)."""
    return ((cfg.get("meta") or {}).get("target_schema")
            or layer_defaults.get(layer, {}).get("schema") or layer)


def _stem_schemas(project_root: Path,
                  layer_defaults: dict[str, dict]) -> dict[str, str]:
    """``{stem: effective schema}`` for every model file of a project."""
    models_dir = project_root / "models"
    return {p.stem: effective_schema(parse_config(p.read_text()),
                                     p.relative_to(models_dir).parts[0],
                                     layer_defaults)
            for p in sorted(models_dir.glob("**/*.sql"))}


def load_sql_project(models_dir: str | Path,
                     config_vars: dict[str, Any] | None = None,
                     registry: Registry | None = None) -> Registry:
    """Build a Registry from ``<models_dir>/<layer>/**/*.sql``.

    Model name = file stem (dbt's rule: stems are globally unique);
    layer = first directory level; ``depends_on`` derives from the
    ``ref()``s each file makes.  Raises on duplicate stems or refs to
    unknown models.

    If a ``dbt_project.yml`` sits beside ``models/``, its project
    ``vars`` fill in as defaults (caller-supplied ``config_vars`` win)
    and its per-layer ``+materialized`` / ``+schema`` defaults apply to
    models whose own config block doesn't override them — full dbt
    config-precedence semantics for the subset the reference uses.
    """
    root = Path(models_dir)
    proj = load_project_yml(root.parent)
    config_vars = {**proj["vars"], **(config_vars or {})}
    layer_defaults = proj["layer_defaults"]
    files: dict[str, tuple[str, Path]] = {}      # stem -> (layer, path)
    for p in sorted(root.glob("*/**/*.sql")) + sorted(root.glob("*/*.sql")):
        layer = p.relative_to(root).parts[0]
        if p.stem in files and files[p.stem][1] != p:
            raise ValueError(f"duplicate model name {p.stem!r}")
        files[p.stem] = (layer, p)

    reg = registry or Registry()
    # resolve every model's effective schema up front: refs to a model
    # render its routed view name, whatever its directory layer
    parsed: dict[str, dict] = {}
    eff_schema: dict[str, str] = {}
    for stem, (layer, path) in files.items():
        parsed[stem] = parse_config(path.read_text())
        eff_schema[stem] = effective_schema(parsed[stem], layer,
                                            layer_defaults)
    # a model's temp view name is its qualified name with dots → __
    # (Engine.register's rule), qualified = "<schema>.<stem>"
    name_to_view = {stem: f"{eff_schema[stem]}__{stem}"
                    for stem in files}

    for stem, (layer, path) in files.items():
        text = path.read_text()
        cfg = parsed[stem]
        this_view = f"{eff_schema[stem]}__{stem}__this"
        sql, refs, landings = render_sql(text, name_to_view, config_vars)
        incr_sql, _r2, _l2 = render_sql(
            text, name_to_view, config_vars,
            incremental=True, this_view=this_view)
        lay_def = layer_defaults.get(layer, {})
        mat = cfg.get("materialized",
                      lay_def.get("materialized", "view"))
        note = ""
        if mat == "streaming_table":
            mat, note = "table", " [streaming_table rendered as batch]"
        # union refs from BOTH renders: the batch render strips
        # {% if is_incremental() %} blocks BEFORE ref extraction, so a
        # ref appearing only inside one (e.g. a watermark lookup) would
        # otherwise vanish from the DAG and toposort could schedule
        # this model before its incremental-only dependency
        deps = tuple(sorted({f"{eff_schema[r]}.{r}"
                             for r in set(refs) | set(_r2)}))

        def make_builder(rendered_sql: str, landing_views: list):
            def builder(ctx):
                from ..sources import files, json_source
                for view, lpath, fmt in landing_views:
                    read = {"json": json_source.read_json_batch,
                            "csv": files.read_csv_batch,
                            "text": files.read_text_batch}.get(fmt)
                    df = read(ctx.spark, lpath) if read else \
                        files.read_file_batch(ctx.spark, lpath, fmt)
                    df.createOrReplaceTempView(view)
                return ctx.spark.sql(rendered_sql)
            return builder

        def make_incremental_builder(full_sql: str, inc_sql: str,
                                     landing_views: list, view_name: str):
            """dbt incremental: first run = full build; later runs
            render is_incremental()=true with {{ this }} bound to the
            existing table and APPEND the delta (expressed as
            prior ∪ delta so the engine's versioned sink publishes one
            complete new snapshot — at real scale swap the sink for a
            parquet append / MERGE on the unique_key, same rendering)."""
            plain = make_builder(full_sql, landing_views)
            inc = make_builder(inc_sql, landing_views)

            def builder(ctx):
                prior = ctx.this()
                if prior is not None:
                    prior.createOrReplaceTempView(view_name)
                    return prior.unionByName(inc(ctx))
                return plain(ctx)
            return builder

        if mat == "incremental":
            builder = make_incremental_builder(sql, incr_sql, landings,
                                               this_view)
            mat, note = "table", " [incremental]"
        else:
            builder = make_builder(sql, landings)
        reg.add(Model(
            name=stem, layer=layer, builder=builder,
            materialization=mat, depends_on=deps, schema=eff_schema[stem],
            description=f"loaded from {path.name}{note}"))
    return reg


# -- dbt test loading ------------------------------------------------------

def load_sql_tests(project_root: str | Path, engine,
                   name_to_view: dict[str, str] | None = None) -> list:
    """Attach a dbt project's data tests to an Engine (⇔ `dbt test`):

    - **generic tests** from `models/**/*.yml` — ``not_null``,
      ``unique``, ``accepted_values`` bound per column (the three the
      reference uses, `iot_events_models.yml:8-32`); both the modern
      ``arguments: values:`` nesting and the classic ``values:`` form
      parse.
    - **singular tests** from `tests/*.sql` — a SELECT whose non-empty
      result is the failure set (`tests/pos_sensor_values.sql:1-6`),
      with ``ref()`` rendered against the loaded models.

    Returns the list of attached Check objects.  Test-to-relation
    binding uses the same stem → "<layer>.<stem>" rule as the model
    loader.
    """
    import yaml

    from .checks import accepted_values, not_null, singular, unique

    root = Path(project_root)
    models_dir = root / "models"
    # a test binds to the relation the Engine registered, which for a
    # schema-routed model is NOT "<layer>.<stem>"
    proj = load_project_yml(root)
    stem_to_qn = {stem: f"{schema}.{stem}" for stem, schema
                  in _stem_schemas(root, proj["layer_defaults"]).items()}
    view_of = name_to_view or {
        s: qn.replace(".", "__") for s, qn in stem_to_qn.items()}

    checks = []
    for yml in sorted(models_dir.glob("**/*.yml")):
        doc = yaml.safe_load(yml.read_text()) or {}
        for mspec in doc.get("models", []):
            qn = stem_to_qn.get(mspec.get("name"))
            if qn is None:
                continue
            for col in mspec.get("columns", []):
                cname = col["name"]
                for t in col.get("data_tests", col.get("tests", [])):
                    if t == "not_null":
                        checks.append(not_null(qn, cname))
                    elif t == "unique":
                        checks.append(unique(qn, cname))
                    elif isinstance(t, dict) and "accepted_values" in t:
                        spec = t["accepted_values"] or {}
                        vals = (spec.get("arguments", {}).get("values")
                                or spec.get("values") or [])
                        checks.append(accepted_values(qn, cname, vals))
    singular_files = (sorted((root / "tests").glob("*.sql"))
                      if (root / "tests").is_dir() else [])
    for sqlf in singular_files:
        sql, refs, _land = render_sql(sqlf.read_text(), view_of, {})
        # bind the test to its first ref'd model (dbt's own attribution)
        rel = stem_to_qn[refs[0]] if refs else next(iter(stem_to_qn.values()))

        def make_violations(rendered: str):
            def violations(df):
                # the rendered SQL reads the registered temp views; the
                # bound relation df only supplies the live session
                return df.sparkSession.sql(rendered)
            return violations

        checks.append(singular(sqlf.stem, rel, make_violations(sql)))
    for c in checks:
        engine.add_check(c)
    return checks


# -- dbt snapshots ---------------------------------------------------------

_SNAPSHOT_RE = re.compile(
    r"\{%\s*snapshot\s+(\w+)\s*%\}(.*?)\{%\s*endsnapshot\s*%\}", re.DOTALL)


def load_snapshots(project_root: str | Path, engine,
                   config_vars: dict[str, Any] | None = None) -> dict:
    """``dbt snapshot`` — parse ``snapshots/*.sql`` ``{% snapshot %}``
    blocks and RUN each one: the block's SELECT (ref/source/var
    rendered) is the current source state, diffed into the stored SCD2
    history by :class:`operators.scd.SnapshotTable` under the block's
    config (unique_key, strategy timestamp|check, updated_at /
    check_cols).  State lives under ``<warehouse>/snapshots/<name>``;
    each snapshot registers as relation ``snapshots.<name>``.  Returns
    {name: SnapshotTable}."""
    from ..operators.scd import SnapshotTable

    root = Path(project_root)
    proj = load_project_yml(root)
    config_vars = {**proj["vars"], **(config_vars or {})}
    # a snapshot's ref() renders the temp view the Engine registered
    name_to_view = {stem: f"{schema}__{stem}" for stem, schema
                    in _stem_schemas(root, proj["layer_defaults"]).items()}

    out: dict[str, SnapshotTable] = {}
    snap_dir = root / "snapshots"
    files = sorted(snap_dir.glob("*.sql")) if snap_dir.is_dir() else []
    for f in files:
        for m in _SNAPSHOT_RE.finditer(f.read_text()):
            name, body = m.group(1), m.group(2)
            cfg = parse_config(body)
            sql, _refs, _land = render_sql(body, name_to_view, config_vars)
            strategy = cfg.get("strategy", "timestamp")
            snap = SnapshotTable(
                engine.spark, engine.warehouse / "snapshots" / name,
                unique_key=cfg["unique_key"], strategy=strategy,
                updated_at=cfg.get("updated_at", "updated_at"),
                check_cols=list(cfg.get("check_cols", []) or []))
            snap.run(engine.spark.sql(sql))
            engine.register(f"snapshots.{name}", snap.read())
            out[name] = snap
    return out
