"""Schema-driven XML record flattening (SURVEY.md §2.3-2.5).

The reference flattens each XML element into a dynamic string-keyed
dict with an intricate set of per-tag rules (reference main.py:115-325
``process_offer``, 328-455 ``process_russian_xml``, 458-491
``process_service_xml``). The Spark spelling: the native XML reader
gives a typed nested record; we walk that *schema* (driver-side
metadata, zero data passes) and emit ONE flat projection containing
every rule as a Column expression — so the whole flatten is a single
narrow ``select`` that Tungsten codegens, regardless of how many
hundred columns fall out.

Replicated quirks (each cited):

* transforms (decimal-comma P9, sanitize P10, Size-strip P11) live in a
  second first-wins pass (main.py:185-199) — they only take effect when
  the raw-text pass produced nothing, because a non-empty value blocks
  the overwrite. Faithfully dead for populated values.
* ``param_name_*`` tags are flattened AND re-appended by the param pass
  (main.py:268-282), yielding "V, V" for a single occurrence.
* description is overwritten post-flatten with the cleaned text of
  .//description (offer) or .//name (product!) with desc/descr/
  description_full/full_description fallbacks (main.py:309-320).
* image-tag predicate arms differ between element text (extension OR
  'img/' infix OR http prefix, main.py:207-209) and attribute values
  (extension OR http prefix only, main.py:227-229).

Known approximations (documented, fixture-pinned where they matter):
``param_name_*`` re-append only sees top-level tags (the reference's
iter() also catches nested ones); deep repeated STRUCT descendants use
their first element's subtree (the reference scans every occurrence).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from magicxml_spark.functions.html import clean_description
from magicxml_spark.functions.strings import (
    dedup_delimited,
    sanitize_name,
    strip_size_question,
    strip_ws,
)

IMAGE_TAGS = {"picture", "photo", "optionalImages", "image", "images", "img"}
IMAGE_EXTENSIONS = (".jpg", ".jpeg", ".png", ".gif", ".bmp", ".webp", ".svg")
# generic-flatten exclusions per dialect (main.py:185-186)
_EXCLUDED = {
    "offer": {"param"},
    "product": {"photos", "fabric", "features", "options"},
}
_DIGIT_LIKE = "^([0-9]+\\.?[0-9]*|\\.[0-9]+)$"
# dynamic-pivot cap: unbounded distinct param keys would mean unbounded
# columns (SURVEY §4)
MAX_PARAM_KEYS = 1000

VALUE_TAG = "_VALUE"
#: the conversion's document-order key: every flatten carries it through
#: untouched and keeps it out of its schema walk. No XML name contains
#: '#', so no parsed tag or attribute can collide with it.
ROW_ORDER = "#row_order"


def _walked(df: DataFrame) -> tuple[T.StructType, list[Column]]:
    """``df``'s schema without ``ROW_ORDER``, and the key to carry."""
    fields = [f for f in df.schema.fields if f.name != ROW_ORDER]
    carried = [F.col(ROW_ORDER)] if len(fields) < len(df.schema.fields) else []
    return T.StructType(fields), carried


def _is_attr(name: str) -> bool:
    return name.startswith("_") and name != VALUE_TAG


def _s(c: Column) -> Column:
    return c.cast("string")


def _nonempty(c: Column) -> Column:
    # reference: child.text.strip() — Python-strip parity
    return F.nullif(strip_ws(_s(c)), F.lit(""))


# Closure factories for Spark higher-order-function lambdas: these MUST
# take exactly one parameter — a two-param lambda is bound as
# (element, index) by PySpark, silently breaking default-arg captures.
def _field_str(name: str):
    return lambda e: _s(e[name])


def _field_str_or_empty(name: str):
    return lambda e: F.coalesce(_s(e[name]), F.lit(""))


def _name_eq(key: str, trim: bool = True):
    if trim:
        return lambda p: F.trim(_s(p["_name"])) == F.lit(key)
    return lambda p: _s(p["_name"]) == F.lit(key)


def _strip_size_value(key: str):
    return lambda p: strip_size_question(
        F.lit(key), F.coalesce(_s(p[VALUE_TAG]), F.lit(""))
    )


def _append_dedup(values: Column) -> Column:
    """'///'-join with the reference's order-preserving dedup (P4)."""
    cleaned = F.filter(F.transform(values, lambda x: strip_ws(_s(x))), lambda x: x != "")
    return F.nullif(F.array_join(F.array_distinct(cleaned), "///"), F.lit(""))


def _second_pass_transform(tag: str, raw: Column) -> Column:
    """The quirky transform pass (main.py:185-199): applied to the
    UNtrimmed raw text, only reachable when the raw pass left the
    column empty."""
    val = F.coalesce(_s(raw), F.lit(""))
    if __import__("re").fullmatch(r"[0-9]+\.?[0-9]*|\.[0-9]+", tag):
        val = F.regexp_replace(val, "\\.", ",")
    if tag == "name":
        val = sanitize_name(val)
    if tag == "Size":
        val = F.when(val.contains("?"), strip_ws(F.regexp_replace(val, "\\?", ""))).otherwise(
            val
        )
    return val


class _Out:
    """Ordered column builder with the reference's merge modes."""

    def __init__(self) -> None:
        self.cols: dict[str, Column] = {}

    def set(self, name: str, expr: Column) -> None:
        self.cols[name] = expr

    def fill_empty(self, name: str, expr: Column) -> None:
        """First-wins at row level: fill only null/''/'Undefined'."""
        if name in self.cols:
            prior = self.cols[name]
            usable = F.nullif(F.nullif(prior, F.lit("")), F.lit("Undefined"))
            self.cols[name] = F.coalesce(usable, expr, prior)
        else:
            self.cols[name] = expr

    def fill_missing(self, name: str, expr: Column) -> None:
        """Deep-descendant mode (main.py:149-168): only if absent."""
        if name in self.cols:
            self.cols[name] = F.coalesce(self.cols[name], expr)
        else:
            self.cols[name] = expr


def _walk_deep(field: T.StructField, path: Column, out: _Out, depth: int = 0) -> None:
    """P6: any unprocessed descendant's text/attrs fill missing columns
    (first-wins). Walks struct/array-of-struct levels below the direct
    children."""
    dt = field.dataType
    tag = field.name
    if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StructType):
        # first element stands in for document-order first occurrence
        _walk_struct_deep(dt.elementType, tag, F.try_element_at(path, F.lit(1)), out, depth)
    elif isinstance(dt, T.StructType):
        _walk_struct_deep(dt, tag, path, out, depth)


def _walk_struct_deep(
    st: T.StructType, tag: str, node: Column, out: _Out, depth: int
) -> None:
    if tag in IMAGE_TAGS:
        return
    if depth > 0:  # direct children were handled by the main pass
        for sub in st.fields:
            if _is_attr(sub.name):
                out.fill_missing(f"{tag}_{sub.name[1:]}", _s(node[sub.name]))
        if VALUE_TAG in st.names:
            out.fill_missing(tag, _nonempty(node[VALUE_TAG]))
    # everything below this node is an unprocessed descendant of the
    # row element -> always eligible for first-wins fill
    for sub in st.fields:
        if _is_attr(sub.name) or sub.name == VALUE_TAG:
            continue
        sdt = sub.dataType
        child = node[sub.name]
        if isinstance(sdt, T.StructType):
            _walk_struct_deep(sdt, sub.name, child, out, depth + 1)
        elif isinstance(sdt, T.ArrayType) and isinstance(sdt.elementType, T.StructType):
            _walk_struct_deep(
                sdt.elementType, sub.name, F.try_element_at(child, F.lit(1)), out, depth + 1
            )
        elif isinstance(sdt, T.ArrayType):
            if sub.name not in IMAGE_TAGS:
                out.fill_missing(sub.name, _nonempty(_first_nonempty_el(child)))
        else:
            if sub.name not in IMAGE_TAGS:
                out.fill_missing(sub.name, _nonempty(child))


def _first_nonempty_el(arr: Column) -> Column:
    """First element with non-empty trimmed text (reference iter()
    takes the first occurrence that HAS text, not literally the first
    element)."""
    return F.try_element_at(
        F.filter(arr, lambda x: _nonempty(x).isNotNull()), F.lit(1)
    )


def _deep_text_sources(schema: T.StructType, wanted: str) -> list[Column]:
    """Text expressions for every field named ``wanted`` at any depth,
    top level first then nested (approximates the reference's
    document-order find('.//tag'))."""
    found: list[Column] = []

    def walk(st: T.StructType, get, depth: int) -> None:
        for f in st.fields:
            if _is_attr(f.name) or f.name == VALUE_TAG:
                continue
            c = get(f.name)
            dt = f.dataType
            if f.name == wanted:
                if isinstance(dt, T.StructType):
                    if VALUE_TAG in dt.names:
                        found.append(_nonempty(c[VALUE_TAG]))
                elif isinstance(dt, T.ArrayType):
                    el = dt.elementType
                    if isinstance(el, T.StructType):
                        if VALUE_TAG in el.names:
                            found.append(
                                _nonempty(
                                    _first_nonempty_el(
                                        F.transform(c, lambda e: _s(e[VALUE_TAG]))
                                    )
                                )
                            )
                    else:
                        found.append(_nonempty(_first_nonempty_el(c)))
                else:
                    found.append(_nonempty(c))
            if isinstance(dt, T.StructType):
                walk(dt, lambda n, cc=c: cc[n], depth + 1)
            elif isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StructType):
                first = F.try_element_at(c, F.lit(1))
                walk(dt.elementType, lambda n, cc=first: cc[n], depth + 1)

    walk(schema, lambda n: F.col(n), 0)
    return found


def _find_param_array(schema: T.StructType, holder: str = "param"):
    """Locate the <param> array at any depth (reference findall('.//param')).
    Returns (array_expr, element_struct_type) or (None, None)."""

    def walk(st: T.StructType, get):
        direct = None
        for f in st.fields:
            if f.name != holder:
                continue
            dt = f.dataType
            if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StructType):
                return get(f.name), dt.elementType
            if isinstance(dt, T.StructType):
                return F.array(get(f.name)), dt
        for f in st.fields:
            dt = f.dataType
            if isinstance(dt, T.StructType):
                got = walk(dt, lambda n, cc=get(f.name): cc[n])
                if got is not None:
                    return got
        return direct

    got = walk(schema, lambda n: F.col(n))
    return got if got is not None else (None, None)


def _collect_image_exprs(
    schema: T.StructType, base: Column | None = None
) -> tuple[list[Column], list[Column]]:
    """P13: (element-text candidates, attribute-value candidates) from
    every depth of the schema."""
    texts: list[Column] = []
    attrs: list[Column] = []

    def node_col(name: str) -> Column:
        return F.col(name) if base is None else base[name]

    def walk(st: T.StructType, get, tag_path: list[str]) -> None:
        for f in st.fields:
            c = get(f.name)
            dt = f.dataType
            if _is_attr(f.name):
                aname = f.name[1:].lower()
                if "image" in aname or "photo" in aname:
                    attrs.append(_s(c))
                continue
            if f.name == VALUE_TAG:
                if tag_path and tag_path[-1] in IMAGE_TAGS:
                    texts.append(_s(c))
                continue
            if isinstance(dt, T.StructType):
                walk(dt, lambda n, cc=c: cc[n], tag_path + [f.name])
            elif isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StructType):
                # arrays of structs: check _VALUE + image attrs per element
                el = dt.elementType
                if f.name in IMAGE_TAGS and VALUE_TAG in el.names:
                    texts.append(
                        F.array_join(
                            F.transform(c, lambda e: F.coalesce(_s(e[VALUE_TAG]), F.lit(""))),
                            "\x00",
                        )
                    )
                for sub in el.fields:
                    if _is_attr(sub.name):
                        aname = sub.name[1:].lower()
                        if "image" in aname or "photo" in aname:
                            attrs.append(
                                F.array_join(
                                    F.transform(
                                        c, _field_str_or_empty(sub.name)
                                    ),
                                    "\x00",
                                )
                            )
            elif isinstance(dt, T.ArrayType):
                if f.name in IMAGE_TAGS:
                    texts.append(F.array_join(F.transform(c, _s), "\x00"))
            else:
                if f.name in IMAGE_TAGS:
                    texts.append(_s(c))

    walk(schema, node_col, [])
    return texts, attrs


def _image_predicate(url: Column, include_img_infix: bool) -> Column:
    low = F.lower(url)
    ext_ok = F.lit(False)
    for ext in IMAGE_EXTENSIONS:
        ext_ok = ext_ok | low.endswith(ext)
    pred = ext_ok | url.startswith("http")
    if include_img_infix:
        pred = pred | low.contains("img/")
    return pred


def pictures_expr(schema: T.StructType) -> Column:
    """P13 (main.py:200-244): gather, filter, set-dedup, SORT, join."""
    texts, attrs = _collect_image_exprs(schema)

    def gather(exprs: list[Column], infix: bool) -> Column:
        if not exprs:
            return F.array().cast("array<string>")
        # multi-value candidates were joined on NUL; split back out
        flat = F.flatten(
            F.array(*[F.split(F.coalesce(e, F.lit("")), "\x00") for e in exprs])
        )
        # Single-arg lambda is mandatory: passing F.trim directly binds its
        # optional second parameter to the array INDEX, corrupting values.
        trimmed = F.filter(F.transform(flat, lambda x: strip_ws(x)), lambda x: x != "")
        return F.filter(trimmed, lambda u: _image_predicate(u, infix))

    all_images = F.array_union(gather(texts, True), gather(attrs, False))
    return F.coalesce(
        F.array_join(F.array_sort(F.array_distinct(all_images)), "///"), F.lit("")
    )


def _pivot_arrays(schema: T.StructType, dialect: str) -> dict[str, Column]:
    """The dynamic-pivot sources this schema carries, as arrays of
    named structs: ``param`` (offer, P14) and ``fabric``/``features``
    (product, P16)."""
    arrays: dict[str, Column] = {}
    if dialect == "offer":
        # reference uses findall('.//param') — any depth
        params, el = _find_param_array(schema)
        if isinstance(el, T.StructType) and "_name" in el.names:
            arrays["param"] = params
    elif dialect == "product":
        for holder in ("fabric", "features"):
            if holder not in schema.names:
                continue
            hdt = schema[holder].dataType
            if not isinstance(hdt, T.StructType) or "feature" not in hdt.names:
                continue
            fdt = hdt["feature"].dataType
            el = fdt.elementType if isinstance(fdt, T.ArrayType) else fdt
            if not (isinstance(el, T.StructType) and "_name" in el.names):
                continue
            feats = F.col(holder)["feature"]
            arrays[holder] = feats if isinstance(fdt, T.ArrayType) else F.array(feats)
    return arrays


def discover_pivot_keys(records: DataFrame, dialect: str = "offer") -> dict[str, list[str]]:
    """Distinct pivot keys per pivot source of ``records`` — one tiny
    distinct scan each (the dynamic-pivot two-pass, SURVEY §4). Param
    keys are trimmed and CAPPED at ``MAX_PARAM_KEYS`` in sorted order,
    so keys beyond the cap are dropped deterministically; fabric and
    features keys are uncapped."""
    if dialect == "product" and "offer" in records.columns:
        records = records.filter(F.col("offer").isNull())  # Q1
    keys: dict[str, list[str]] = {}
    for holder, arr in _pivot_arrays(records.schema, dialect).items():
        if holder == "param":
            name = F.transform(arr, lambda p: F.trim(_s(p["_name"])))
        else:
            name = F.transform(arr, lambda p: _s(p["_name"]))
        distinct = (
            records.select(F.explode(name).alias("k"))
            .filter(F.col("k").isNotNull() & (F.col("k") != ""))
            .distinct()
        )
        if holder == "param":
            distinct = distinct.sort("k").limit(MAX_PARAM_KEYS)
        keys[holder] = [r[0] for r in distinct.collect()]
    return keys


def flatten_offer_records(
    df: DataFrame,
    dialect: str = "offer",
    category_paths: DataFrame | None = None,
) -> DataFrame:
    """Flatten offer/product records (reference process_offer,
    main.py:115-325) into the reference's flat string schema.

    ``category_paths``: (id, category_path) dimension from
    operators.category_path (broadcast-joined; offer dialect only).
    The dynamic-pivot keys come from ``discover_pivot_keys``.
    """
    schema, carried = _walked(df)
    names = set(schema.names)
    excluded = _EXCLUDED.get(dialect, set())
    out = _Out()
    pivot_keys = discover_pivot_keys(df, dialect)
    pivots = _pivot_arrays(schema, dialect)

    # Q1: parent products containing nested <offer> are dropped
    if dialect == "product" and "offer" in names:
        df = df.filter(F.col("offer").isNull())

    # P1: element attributes -> attr_{name}
    for f in schema.fields:
        if _is_attr(f.name):
            out.set(f"attr_{f.name[1:]}", _s(F.col(f.name)))

    # direct children: text columns, {tag}_{attr}, stock hoist
    for f in schema.fields:
        tag = f.name
        if _is_attr(tag) or tag in IMAGE_TAGS or tag in excluded:
            continue
        if dialect == "product" and tag == "offer":
            continue  # nested variants: images only (P13)
        dt = f.dataType
        c = F.col(tag)
        if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StructType):
            el = dt.elementType
            if VALUE_TAG in el.names:
                raw_first = F.try_element_at(
                    F.transform(c, lambda e: e[VALUE_TAG]), 1
                )
                out.fill_empty(
                    tag,
                    F.coalesce(
                        _append_dedup(F.transform(c, lambda e: e[VALUE_TAG])),
                        F.when(c.isNotNull(), _second_pass_transform(tag, raw_first)),
                    ),
                )
            else:
                out.fill_empty(tag, F.when(c.isNotNull(), F.lit("")))
            for sub in el.fields:
                if _is_attr(sub.name):
                    vals = F.filter(
                        F.transform(c, _field_str(sub.name)),
                        lambda x: x.isNotNull(),
                    )
                    out.fill_empty(
                        f"{tag}_{sub.name[1:]}",
                        F.nullif(F.array_join(vals, "///"), F.lit("")),
                    )
        elif isinstance(dt, T.StructType):
            for sub in dt.fields:
                if _is_attr(sub.name):
                    out.fill_empty(f"{tag}_{sub.name[1:]}", _s(c[sub.name]))
            raw = c[VALUE_TAG] if VALUE_TAG in dt.names else F.lit(None)
            out.fill_empty(
                tag,
                F.coalesce(
                    _nonempty(raw),
                    F.when(c.isNotNull(), _second_pass_transform(tag, raw)),
                ),
            )
            if tag == "stock":  # P5 hoist
                for sub in dt.fields:
                    if _is_attr(sub.name) or sub.name == VALUE_TAG:
                        continue
                    g = c[sub.name]
                    if isinstance(sub.dataType, T.StructType):
                        if VALUE_TAG in sub.dataType.names:
                            out.fill_empty(sub.name, _nonempty(g[VALUE_TAG]))
                        for a in sub.dataType.fields:
                            if _is_attr(a.name):
                                out.fill_empty(f"{sub.name}_{a.name[1:]}", _s(g[a.name]))
                    else:
                        out.fill_empty(sub.name, _nonempty(g))
        elif isinstance(dt, T.ArrayType):
            raw_first = F.try_element_at(c, F.lit(1))
            out.fill_empty(
                tag,
                F.coalesce(
                    _append_dedup(c),
                    F.when(c.isNotNull(), _second_pass_transform(tag, raw_first)),
                ),
            )
        else:
            out.fill_empty(
                tag,
                F.coalesce(
                    _nonempty(c),
                    F.when(c.isNotNull(), _second_pass_transform(tag, c)),
                ),
            )

    # P6: deep descendants, first-wins (skips what the passes above set)
    for f in schema.fields:
        if _is_attr(f.name) or f.name in IMAGE_TAGS:
            continue
        if isinstance(f.dataType, (T.StructType, T.ArrayType)):
            _walk_deep(f, F.col(f.name), out)

    # P7 + P8: categoryId resolution and category path (offer only).
    # Direct child + deep search both already landed in the
    # 'categoryId' column via the main + deep passes (main.py:170-184).
    if dialect == "offer":
        prior = out.cols.get("categoryId")
        cid = (
            F.coalesce(F.nullif(F.nullif(prior, F.lit("")), F.lit("Undefined")), F.lit("Undefined"))
            if prior is not None
            else F.lit("Undefined")
        )
        out.set("categoryId", cid)
        out.set("_cid_join", cid)
    else:
        out.set("categoryId", F.lit("Undefined"))
        out.set("category_path", F.lit("Undefined"))

    # P13 pictures
    pics = pictures_expr(schema)
    out.set("pictures", pics)

    # P14/P15/P16: param pivots (offer) / fabric+features (product)
    if "param" in pivots:
        params = pivots["param"]
        for key in sorted(pivot_keys.get("param", ())):
            if re.fullmatch(r"[0-9]+\.?[0-9]*|\.[0-9]+", key):
                continue  # digit-named params dropped (main.py:260-261)
            matches = F.filter(params, _name_eq(key))
            vals = F.transform(matches, _strip_size_value(key))
            # params dict UPDATEs offer_data (main.py:325) -> param wins
            prior = out.cols.get(key)
            expr = F.when(F.size(matches) > 0, F.array_join(vals, ", "))
            out.set(key, F.coalesce(expr, prior) if prior is not None else expr)

    # P15: param_name_* passthrough RE-APPEND quirk (main.py:268-282)
    for f in schema.fields:
        if f.name.startswith("param_name_") and not isinstance(
            f.dataType, (T.StructType, T.ArrayType)
        ):
            raw = F.coalesce(_s(F.col(f.name)), F.lit(""))
            stripped = strip_size_question(F.lit(f.name), raw)
            prior = out.cols.get(f.name, F.lit(None))
            out.set(
                f.name,
                F.when(
                    F.col(f.name).isNotNull(),
                    F.concat(F.coalesce(prior, F.lit("")), F.lit(", "), stripped),
                ).otherwise(prior),
            )

    for holder, prefix in (("fabric", "fabric_"), ("features", "feature_")):
        if holder not in pivots:
            continue
        for key in sorted(pivot_keys.get(holder, ())):
            matches = F.filter(pivots[holder], _name_eq(key, trim=False))
            vals = F.transform(
                matches, lambda p: F.coalesce(_s(p[VALUE_TAG]), F.lit(""))
            )
            out.set(
                f"{prefix}{key}",
                F.when(F.size(matches) > 0, F.array_join(vals, ", ")),
            )

    # P17: description overwrite with cleaned text (main.py:309-320)
    desc_primary = "description" if dialect == "offer" else "name"
    desc_sources = []
    for tag in (desc_primary, "desc", "descr", "description_full", "full_description"):
        # reference searches './/tag' — descendants at any depth
        desc_sources.extend(_deep_text_sources(schema, tag))
    found = F.coalesce(*desc_sources) if desc_sources else F.lit(None)
    out.set("description", F.coalesce(clean_description(found), F.lit("")))

    # P18: available default — key-absence only (main.py:322-323)
    if "available" in names and not isinstance(
        schema["available"].dataType, (T.StructType, T.ArrayType)
    ):
        out.set(
            "available",
            F.when(F.col("available").isNotNull(), F.trim(_s(F.col("available")))).otherwise(
                "1"
            ),
        )
    elif "available" not in out.cols:
        out.set("available", F.lit("1"))

    flat = df.select(*[expr.alias(name) for name, expr in out.cols.items()], *carried)

    if dialect == "offer":
        if category_paths is not None:
            flat = (
                flat.join(
                    F.broadcast(category_paths.withColumnRenamed("id", "_cat_id")),
                    flat["_cid_join"] == F.col("_cat_id"),
                    "left",
                )
                .withColumn(
                    "category_path",
                    F.when(
                        F.col("_cid_join") == "Undefined", F.lit("Undefined")
                    ).otherwise(F.coalesce(F.col("category_path"), F.lit("Undefined"))),
                )
                .drop("_cat_id", "_cid_join")
            )
        else:
            flat = flat.withColumn("category_path", F.lit("Undefined")).drop("_cid_join")
    return flat


# ---------------------------------------------------------------------------
# 1C ("russian") dialect — per-record aggregations over ТЧ tabular parts
# (reference process_russian_xml, main.py:328-455; SURVEY §2.4 R1-R7)
# ---------------------------------------------------------------------------

# R6 scalar rename map (main.py:414-447). Value = list of output columns.
_R6_RENAMES = {
    "Артикул": ["Артикул", "vendor", "vendorCode"],
    "ПолноеНазваниеСайт": ["full_name"],
    "Глубина": ["глубина"],
    "Ширина": ["ширина"],
    "Высота": ["высота"],
    "Вес": ["вес"],
    "Цвет": ["param_Цвет"],
}


def _tc_rows(tc_col: Column, name: str, row_type: T.DataType) -> Column:
    """Rows of one tabular part: ТЧ[ИмяТабличнойЧасти=name]/ЭлементТЧ
    (absent part -> empty array of the inferred row struct type)."""
    match = F.filter(tc_col, lambda t: _s(t["_ИмяТабличнойЧасти"]) == F.lit(name))
    return F.coalesce(
        F.try_element_at(match, F.lit(1))["ЭлементТЧ"], F.array().cast(T.ArrayType(row_type))
    )


def _tc_get(row: Column, field: str, fields: list[str], default: str = "") -> Column:
    """tc_row.get(tag, default) — absent/empty text -> default
    (reference main.py:339-345 builds tc_row only from non-empty text)."""
    if field not in fields:
        return F.lit(default)
    return F.coalesce(F.nullif(strip_ws(_s(row[field])), F.lit("")), F.lit(default))


def flatten_russian_records(df: DataFrame) -> DataFrame:
    """Flatten 1C <ЭлементСправочника> records (main.py:328-455)."""
    schema, carried = _walked(df)
    names = set(schema.names)
    out = _Out()

    # scalar children with the R6 rename map
    for f in schema.fields:
        tag = f.name
        if _is_attr(tag) or tag == "ТЧ" or isinstance(f.dataType, (T.StructType, T.ArrayType)):
            continue
        val = _nonempty(F.col(tag))
        if tag in ("ОписаниеДляСайта", "description"):
            out.fill_missing("description", F.when(val.isNotNull(), clean_description(val)))
        elif tag == "Наименование":
            out.fill_missing("name", F.when(val.isNotNull(), sanitize_name(val)))
        elif tag in _R6_RENAMES:
            for alias in _R6_RENAMES[tag]:
                out.fill_missing(alias, val)
        elif tag == "ID_Материала":
            out.fill_missing("ID_Материала", val)
        else:
            out.fill_missing(tag, val)

    # tabular parts
    if "ТЧ" in names:
        tc = F.col("ТЧ")
        tdt = schema["ТЧ"].dataType
        if not isinstance(tdt, T.ArrayType):
            tc = F.array(tc)
            tdt = T.ArrayType(tdt)
        el = tdt.elementType
        row_fields: list[str] = []
        if isinstance(el, T.StructType) and "ЭлементТЧ" in el.names:
            rdt = el["ЭлементТЧ"].dataType
            if isinstance(rdt, T.ArrayType) and isinstance(rdt.elementType, T.StructType):
                row_fields = list(rdt.elementType.names)

        if row_fields:
            # R2 stock aggregate (main.py:348-365). The reference's
            # tc_data keeps only rows with >=1 non-empty text child
            # (main.py:339-345), so an Остатки part whose rows are all
            # empty emits NO stock columns (available falls through to
            # the '1' default) — gate on that, not on raw row count.
            row_struct = rdt.elementType
            data_fields = [fn for fn in row_fields if not _is_attr(fn)]

            def _row_has_data(r: Column) -> Column:
                cond = F.lit(False)
                for fn in data_fields:
                    cond = cond | _nonempty(r[fn]).isNotNull()
                return cond

            rows = F.filter(_tc_rows(tc, "Остатки", row_struct), _row_has_data)
            qty = lambda r: _tc_get(r, "КоличествоОстаток", row_fields, "0")  # noqa: E731
            wh = lambda r: _tc_get(r, "СкладНаименование", row_fields, "")  # noqa: E731
            total = F.aggregate(
                rows,
                F.lit(0.0),
                lambda acc, r: acc + F.coalesce(qty(r).try_cast("double"), F.lit(0.0)),
            )
            listed = F.filter(
                rows,
                lambda r: F.coalesce(
                    qty(r).try_cast("double") > 0,  # parseable & positive
                    qty(r) != "0",  # unparseable & not the '0' default
                ),
            )
            details = F.array_join(
                F.transform(listed, lambda r: F.concat(wh(r), F.lit(": "), qty(r))), "///"
            )
            has_stock = F.size(rows) > 0
            # total_stock starts as Python int 0 and only becomes float
            # when some quantity parses — str() renders '0' in the
            # all-unparseable case, '0.0'/'5.0' otherwise
            any_parsed = F.exists(
                rows, lambda r: qty(r).try_cast("double").isNotNull()
            )
            out.set("available", F.when(has_stock, F.when(total > 0, "1").otherwise("0")))
            out.set(
                "stock_total",
                F.when(has_stock, F.when(any_parsed, _s(total)).otherwise(F.lit("0"))),
            )
            out.set("stock_details", F.when(has_stock, details))

            # R3 price fold — faithful document-order state machine
            # (main.py:367-376): Цена sets price; ЦенаСкидка!='0' moves
            # price to oldprice and takes over.
            price_rows = F.filter(
                _tc_rows(tc, "Цены", row_struct),
                lambda r: (_tc_get(r, "Наименование", row_fields) != "")
                & (_tc_get(r, "Значение", row_fields) != ""),
            )
            state = F.aggregate(
                price_rows,
                F.struct(
                    F.lit(None).cast("string").alias("price"),
                    F.lit(None).cast("string").alias("oldprice"),
                ),
                lambda acc, r: F.when(
                    _tc_get(r, "Наименование", row_fields) == "Цена",
                    F.struct(
                        _tc_get(r, "Значение", row_fields).alias("price"),
                        acc["oldprice"].alias("oldprice"),
                    ),
                )
                .when(
                    (_tc_get(r, "Наименование", row_fields) == "ЦенаСкидка")
                    & (_tc_get(r, "Значение", row_fields) != "0"),
                    F.struct(
                        _tc_get(r, "Значение", row_fields).alias("price"),
                        F.coalesce(acc["price"], F.lit("")).alias("oldprice"),
                    ),
                )
                .otherwise(acc),
            )
            out.set("price", state["price"])
            out.set("oldprice", state["oldprice"])

            # R4 materials (main.py:378-399)
            mat_rows = _tc_rows(tc, "Материалы", row_struct)
            mat_names = F.filter(
                F.transform(mat_rows, lambda r: _tc_get(r, "Наименование", row_fields)),
                lambda x: x != "",
            )
            out.set(
                "материалы",
                F.when(F.size(mat_names) > 0, F.array_join(F.array_distinct(mat_names), "///")),
            )
            mat_ids = F.filter(
                F.transform(mat_rows, lambda r: _tc_get(r, "ID_Материала", row_fields)),
                lambda x: x != "",
            )
            scalar_ids = F.split(
                F.coalesce(out.cols.get("ID_Материала", F.lit(None)), F.lit("")), "///"
            )
            merged_ids = F.filter(
                F.concat(F.transform(scalar_ids, lambda x: strip_ws(x)), F.array_distinct(mat_ids)),
                lambda x: x != "",
            )
            out.set(
                "ID_Материала",
                F.when(F.size(merged_ids) > 0, F.array_join(F.array_distinct(merged_ids), "///")).otherwise(
                    out.cols.get("ID_Материала")
                ),
            )

            # R5 styles / site groups (main.py:400-412)
            for tc_name, dest in (("Стили", "стили"), ("ГруппыСайта", None)):
                vals = F.filter(
                    F.transform(
                        _tc_rows(tc, tc_name, row_struct), lambda r: _tc_get(r, "Наименование", row_fields)
                    ),
                    lambda x: x != "",
                )
                uniq = F.array_distinct(vals)
                if dest:
                    out.set(dest, F.when(F.size(uniq) > 0, F.array_join(uniq, "///")))
                else:
                    out.set(
                        "category_path", F.when(F.size(uniq) > 0, F.array_join(uniq, "///"))
                    )
                    out.set("categoryId", F.when(F.size(uniq) > 0, F.try_element_at(uniq, F.lit(1))))

    # defaults (main.py:440-449)
    out.fill_missing("available", F.lit("1"))
    avail = out.cols["available"]
    out.set("available", F.coalesce(avail, F.lit("1")))
    cp = out.cols.get("category_path")
    if cp is not None:
        out.set("category_path", F.coalesce(cp, F.lit("Undefined")))
        out.set(
            "categoryId", F.coalesce(out.cols.get("categoryId", F.lit(None)), F.lit("Undefined"))
        )
    else:
        out.set("category_path", F.lit("Undefined"))
        out.set("categoryId", F.lit("Undefined"))
    if "ID" in out.cols:
        out.set("id", out.cols["ID"])

    # R7: global '///' re-dedup pass (main.py:449-451)
    final = {
        name: F.when(expr.contains("///"), dedup_delimited(expr)).otherwise(expr)
        for name, expr in out.cols.items()
    }
    return df.select(*[expr.alias(name) for name, expr in final.items()], *carried)


# ---------------------------------------------------------------------------
# service dialect (reference process_service_xml, main.py:458-491; V1/V2)
# ---------------------------------------------------------------------------


def flatten_service_records(df: DataFrame) -> DataFrame:
    """Flatten <service> records: raw-named attrs (no prefix!), child
    text + {tag}_{attr} columns, then the default chain."""
    schema, carried = _walked(df)
    out = _Out()

    for f in schema.fields:  # attributes keep their raw names (main.py:463-464)
        if _is_attr(f.name):
            out.set(f.name[1:], _s(F.col(f.name)))

    for f in schema.fields:
        tag = f.name
        if _is_attr(tag):
            continue
        dt = f.dataType
        c = F.col(tag)
        if isinstance(dt, T.StructType):
            if VALUE_TAG in dt.names:
                out.fill_missing(tag, _nonempty(c[VALUE_TAG]))
            for sub in dt.fields:
                if _is_attr(sub.name):
                    out.set(f"{tag}_{sub.name[1:]}", _s(c[sub.name]))
        elif isinstance(dt, T.ArrayType):
            el = dt.elementType
            if isinstance(el, T.StructType):
                if VALUE_TAG in el.names:
                    out.fill_missing(
                        tag, _nonempty(F.try_element_at(c, F.lit(-1))[VALUE_TAG])
                    )  # later children overwrite (plain dict set)
                for sub in el.fields:
                    if _is_attr(sub.name):
                        out.set(
                            f"{tag}_{sub.name[1:]}", _s(F.try_element_at(c, F.lit(-1))[sub.name])
                        )
            else:
                out.fill_missing(tag, _nonempty(F.try_element_at(c, F.lit(-1))))
        else:
            out.fill_missing(tag, _nonempty(c))

    # default chain (main.py:475-488) — order matters: category_path
    # uses the RAW name (sanitize happens after)
    raw_name = out.cols.get("name")
    out.set(
        "available", F.coalesce(out.cols.get("available", F.lit(None)), F.lit("1"))
    )
    out.set(
        "category_path",
        F.coalesce(
            out.cols.get("category_path", F.lit(None)),
            raw_name if raw_name is not None else F.lit(None),
            F.lit("Service"),
        ),
    )
    out.set(
        "categoryId",
        F.coalesce(
            out.cols.get("categoryId", F.lit(None)),
            out.cols.get("id", F.lit(None)),
            out.cols.get("sid", F.lit(None)),
            F.lit("service"),
        ),
    )
    if raw_name is not None:
        out.set("name", F.when(raw_name.isNotNull(), sanitize_name(raw_name)))
    out.set("service_type", F.lit("verification_service"))
    return df.select(*[expr.alias(name) for name, expr in out.cols.items()], *carried)
