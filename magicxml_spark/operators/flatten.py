"""Schema-driven XML record flattening (SURVEY.md §2.3-2.5).

The reference flattens each XML element into a dynamic string-keyed
dict with an intricate set of per-tag rules (reference main.py:115-325
``process_offer``, 328-455 ``process_russian_xml``, 458-491
``process_service_xml``). The Spark spelling: the native XML reader
gives a typed nested record; we walk that *schema* once (driver-side
metadata, zero data passes) into a list of nodes, each with its Column,
and spell every rule as a Column expression over the nodes it needs. A
flatten is narrow projections only, which Tungsten codegens into one
stage regardless of how many hundred columns fall out:

* offer/product and service: ONE projection;
* 1C: four — each tabular part's rows with their text stripped once,
  the R2-R6 rules over those rows, the R7 '///' re-dedup as one lambda
  over the array of the rules' columns, and that array's elements as
  the output columns. Catalyst keeps them apart (it does not inline a
  costly expression that the next projection reads more than once), so
  each shared intermediate is planned and evaluated once.

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

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from magicxml_spark.functions.html import clean_description
from magicxml_spark.functions.strings import (
    dedup_delimited,
    distinct_join,
    is_digit_like,
    quoted_col,
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


def _is_rows(dt: T.DataType) -> bool:
    """A repeated element with children or attributes."""
    return isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StructType)


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


def _second_pass_transform(tag: str, raw: Column) -> Column:
    """The quirky transform pass (main.py:185-199): applied to the
    UNtrimmed raw text, only reachable when the raw pass left the
    column empty."""
    val = F.coalesce(_s(raw), F.lit(""))
    if is_digit_like(tag):
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


# ---------------------------------------------------------------------------
# the schema walk — every offer/product rule below reads its list
# ---------------------------------------------------------------------------


class _Node(NamedTuple):
    """One field of the record schema, at any depth."""

    name: str
    dtype: T.DataType
    col: Column
    depth: int  # 0 for the record's own attributes, text and children
    parent: str | None  # the enclosing element's tag; None at depth 0
    path: tuple[int, ...]  # the field's index at each level, outermost first
    repeated: bool  # inside a repeated element, read through its first one
    in_image: bool  # inside an IMAGE_TAGS element


def _nodes(schema: T.StructType) -> list[_Node]:
    """Every field of ``schema`` at any depth with its Column, in the
    order the deep rules take them: an element's attributes and text,
    then each child element followed by its own subtree. A repeated
    element is read through its first occurrence, which stands in for
    the document-order first one."""
    nodes: list[_Node] = []

    def rank(f: T.StructField) -> int:
        return 0 if _is_attr(f.name) else 1 if f.name == VALUE_TAG else 2

    def walk(st: T.StructType, base: Column | None, up: _Node | None) -> None:
        for i in sorted(range(len(st.fields)), key=lambda i: rank(st.fields[i])):
            f = st.fields[i]
            node = _Node(
                f.name,
                f.dataType,
                F.col(f.name) if base is None else base[f.name],
                0 if up is None else up.depth + 1,
                None if up is None else up.name,
                (i,) if up is None else up.path + (i,),
                up is not None and (up.repeated or _is_rows(up.dtype)),
                up is not None and (up.in_image or up.name in IMAGE_TAGS),
            )
            nodes.append(node)
            if isinstance(f.dataType, T.StructType):
                walk(f.dataType, node.col, node)
            elif _is_rows(f.dataType):
                walk(f.dataType.elementType, F.try_element_at(node.col, F.lit(1)), node)

    walk(schema, None, None)
    return nodes


def _direct_first(node: _Node) -> tuple:
    """Sort key of a search that, at each level, takes a direct child
    before looking below any of its siblings."""
    return (*[(1, i) for i in node.path[:-1]], (0, node.path[-1]))


def _first_nonempty_el(arr: Column) -> Column:
    """First element with non-empty trimmed text (reference iter()
    takes the first occurrence that HAS text, not literally the first
    element)."""
    return F.try_element_at(
        F.filter(arr, lambda x: _nonempty(x).isNotNull()), F.lit(1)
    )


def _deep_text(node: _Node) -> Column | None:
    """P17: the text of an element found by find('.//tag'); None when
    the element carries no text."""
    dt = node.dtype
    if isinstance(dt, T.StructType):
        return _nonempty(node.col[VALUE_TAG]) if VALUE_TAG in dt.names else None
    if _is_rows(dt):
        if VALUE_TAG not in dt.elementType.names:
            return None
        texts = F.transform(node.col, lambda e: _s(e[VALUE_TAG]))
        return _nonempty(_first_nonempty_el(texts))
    if isinstance(dt, T.ArrayType):
        return _nonempty(_first_nonempty_el(node.col))
    return _nonempty(node.col)


def _is_image_attr(name: str) -> bool:
    low = name[1:].lower()
    return "image" in low or "photo" in low


def _image_predicate(url: Column, include_img_infix: bool) -> Column:
    low = F.lower(url)
    ext_ok = F.lit(False)
    for ext in IMAGE_EXTENSIONS:
        ext_ok = ext_ok | low.endswith(ext)
    pred = ext_ok | url.startswith("http")
    if include_img_infix:
        pred = pred | low.contains("img/")
    return pred


def _pictures(nodes: list[_Node]) -> Column:
    """P13 (main.py:200-244): gather, filter, set-dedup, SORT, join.
    Element text of image tags and image/photo attribute values, at
    every depth but not inside repeated elements (a repeated element's
    own text and attributes are gathered across all its occurrences)."""
    texts: list[Column] = []
    attrs: list[Column] = []
    for n in nodes:
        if n.repeated:
            continue
        if _is_attr(n.name):
            if _is_image_attr(n.name):
                attrs.append(_s(n.col))
        elif n.name == VALUE_TAG:
            if n.parent in IMAGE_TAGS:
                texts.append(_s(n.col))
        elif _is_rows(n.dtype):
            el = n.dtype.elementType
            if n.name in IMAGE_TAGS and VALUE_TAG in el.names:
                texts.append(
                    F.array_join(F.transform(n.col, _field_str_or_empty(VALUE_TAG)), "\x00")
                )
            for sub in el.fields:
                if _is_attr(sub.name) and _is_image_attr(sub.name):
                    attrs.append(
                        F.array_join(F.transform(n.col, _field_str_or_empty(sub.name)), "\x00")
                    )
        elif isinstance(n.dtype, T.ArrayType):
            if n.name in IMAGE_TAGS:
                texts.append(F.array_join(F.transform(n.col, _s), "\x00"))
        elif not isinstance(n.dtype, T.StructType) and n.name in IMAGE_TAGS:
            texts.append(_s(n.col))

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


def _pivot_arrays(nodes: list[_Node], dialect: str) -> dict[str, Column]:
    """The dynamic-pivot sources this schema carries, as arrays of
    named structs: ``param`` (offer, P14) and ``fabric``/``features``
    (product, P16)."""
    if dialect == "offer":
        # reference uses findall('.//param') — any depth, but not inside
        # a repeated element; a level's own <param> before any deeper one
        params = [
            n
            for n in nodes
            if n.name == "param" and not n.repeated
            and (isinstance(n.dtype, T.StructType) or _is_rows(n.dtype))
        ]
        holders = {"param": min(params, key=_direct_first)} if params else {}
    elif dialect == "product":
        holders = {
            n.parent: n
            for n in nodes
            if n.depth == 1 and n.name == "feature" and not n.repeated
            and n.parent in ("fabric", "features")
        }
    else:
        holders = {}
    arrays: dict[str, Column] = {}
    for holder, n in holders.items():
        is_array = isinstance(n.dtype, T.ArrayType)
        el = n.dtype.elementType if is_array else n.dtype
        if isinstance(el, T.StructType) and "_name" in el.names:
            arrays[holder] = n.col if is_array else F.array(n.col)
    return arrays


def _pivot_keys(records: DataFrame, pivots: dict[str, Column]) -> dict[str, list[str]]:
    """Distinct pivot keys per pivot source of ``records`` — one tiny
    distinct scan each (the dynamic-pivot two-pass, SURVEY §4). Param
    keys are trimmed and CAPPED at ``MAX_PARAM_KEYS`` in sorted order,
    so keys beyond the cap are dropped deterministically; fabric and
    features keys are uncapped."""
    keys: dict[str, list[str]] = {}
    for holder, arr in pivots.items():
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
    The dynamic-pivot keys come from one distinct scan per pivot source.
    """
    schema, carried = _walked(df)
    names = set(schema.names)
    excluded = _EXCLUDED.get(dialect, set())
    nodes = _nodes(schema)
    top = {n.name: n.col for n in nodes if n.depth == 0}
    out = _Out()

    # Q1: parent products containing nested <offer> are dropped
    if dialect == "product" and "offer" in names:
        df = df.filter(top["offer"].isNull())
    pivots = _pivot_arrays(nodes, dialect)
    pivot_keys = _pivot_keys(df, pivots)

    # P1: element attributes -> attr_{name}
    for f in schema.fields:
        if _is_attr(f.name):
            out.set(f"attr_{f.name[1:]}", _s(top[f.name]))

    # direct children: text columns, {tag}_{attr}, stock hoist
    for f in schema.fields:
        tag = f.name
        if _is_attr(tag) or tag in IMAGE_TAGS or tag in excluded:
            continue
        if dialect == "product" and tag == "offer":
            continue  # nested variants: images only (P13)
        dt = f.dataType
        c = top[tag]
        if _is_rows(dt):
            el = dt.elementType
            if VALUE_TAG in el.names:
                texts = F.transform(c, lambda e: e[VALUE_TAG])
                out.fill_empty(
                    tag,
                    F.coalesce(
                        distinct_join(texts),
                        F.when(
                            c.isNotNull(),
                            _second_pass_transform(tag, F.try_element_at(texts, F.lit(1))),
                        ),
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
            out.fill_empty(
                tag,
                F.coalesce(
                    distinct_join(c),
                    F.when(
                        c.isNotNull(), _second_pass_transform(tag, F.try_element_at(c, F.lit(1)))
                    ),
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

    # P6: deep descendants, first-wins (skips what the passes above
    # set): text and attributes below the direct children, outside
    # image elements
    for n in nodes:
        if n.depth == 0 or n.in_image:
            continue
        if _is_attr(n.name):
            if n.depth > 1:  # a direct child's own attributes were set above
                out.fill_missing(f"{n.parent}_{n.name[1:]}", _s(n.col))
        elif n.name == VALUE_TAG:
            if n.depth > 1:
                out.fill_missing(n.parent, _nonempty(n.col))
        elif n.name in IMAGE_TAGS or isinstance(n.dtype, T.StructType) or _is_rows(n.dtype):
            continue
        elif isinstance(n.dtype, T.ArrayType):
            out.fill_missing(n.name, _nonempty(_first_nonempty_el(n.col)))
        else:
            out.fill_missing(n.name, _nonempty(n.col))

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

    out.set("pictures", _pictures(nodes))

    # P14/P15/P16: param pivots (offer) / fabric+features (product)
    if "param" in pivots:
        params = pivots["param"]
        for key in sorted(pivot_keys.get("param", ())):
            if is_digit_like(key):
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
            raw = F.coalesce(_s(top[f.name]), F.lit(""))
            stripped = strip_size_question(F.lit(f.name), raw)
            prior = out.cols.get(f.name, F.lit(None))
            out.set(
                f.name,
                F.when(
                    top[f.name].isNotNull(),
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

    # P17: description overwrite with cleaned text (main.py:309-320);
    # the reference searches './/tag' — elements at any depth, in
    # document order, each tag's matches before the next tag's
    desc_primary = "description" if dialect == "offer" else "name"
    desc_sources = []
    for tag in (desc_primary, "desc", "descr", "description_full", "full_description"):
        for n in nodes:
            if n.name == tag:
                text = _deep_text(n)
                if text is not None:
                    desc_sources.append(text)
    found = F.coalesce(*desc_sources) if desc_sources else F.lit(None)
    out.set("description", F.coalesce(clean_description(found), F.lit("")))

    # P18: available default — key-absence only (main.py:322-323)
    if "available" in names and not isinstance(
        schema["available"].dataType, (T.StructType, T.ArrayType)
    ):
        out.set(
            "available",
            F.when(top["available"].isNotNull(), F.trim(_s(top["available"]))).otherwise(
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
# the tabular parts R2-R5 read
_TC_PARTS = ("Остатки", "Цены", "Материалы", "Стили", "ГруппыСайта")


def _tc_named(name: str):
    return lambda t: _s(t["_ИмяТабличнойЧасти"]) == F.lit(name)


def _tc_rows(schema: T.StructType) -> tuple[dict[str, Column], list[str]]:
    """R1 (main.py:339-345): the rows of each tabular part
    (ТЧ[ИмяТабличнойЧасти=part]/ЭлементТЧ; an absent part has none) as
    structs of the rows' text fields, each stripped once and null when
    empty — the reference's tc_row holds only non-empty text. Остатки
    keeps only rows with some text, as its tc_data does. Also returns
    the text field names; ({}, []) when the records carry no ТЧ rows."""
    if "ТЧ" not in schema.names:
        return {}, []
    tc = F.col("ТЧ")
    tdt = schema["ТЧ"].dataType
    if not isinstance(tdt, T.ArrayType):
        tc = F.array(tc)
        tdt = T.ArrayType(tdt)
    el = tdt.elementType
    if not (isinstance(el, T.StructType) and "ЭлементТЧ" in el.names):
        return {}, []
    rdt = el["ЭлементТЧ"].dataType
    if not _is_rows(rdt):
        return {}, []
    fields = [fn for fn in rdt.elementType.names if not _is_attr(fn)]
    parts = {}
    for part in _TC_PARTS:
        rows = F.coalesce(
            F.try_element_at(F.filter(tc, _tc_named(part)), F.lit(1))["ЭлементТЧ"],
            F.array().cast(rdt),
        )
        rows = F.transform(rows, lambda r: F.struct(*[_nonempty(r[fn]).alias(fn) for fn in fields]))
        if part == "Остатки":
            rows = F.filter(
                rows, lambda r: F.coalesce(*[r[fn] for fn in fields], F.lit(None)).isNotNull()
            )
        parts[part] = rows
    return parts, fields


def _tc_get(field: str, fields: list[str], default: str = ""):
    """tc_row.get(field, default) over a stripped row (one-param lambda)."""
    if field not in fields:
        return lambda r: F.lit(default)
    return lambda r: F.coalesce(r[field], F.lit(default))


def flatten_russian_records(df: DataFrame) -> DataFrame:
    """Flatten 1C <ЭлементСправочника> records (main.py:328-455)."""
    schema, carried = _walked(df)
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

    # tabular parts: their stripped rows are a projection of their own,
    # which every rule below reads by reference ('#' keeps the names
    # clear of every tag, as for ROW_ORDER)
    parts, fields = _tc_rows(schema)
    if parts:
        df = df.select("*", *[rows.alias(f"#{part}") for part, rows in parts.items()])
        stock, prices, materials, styles, groups = (F.col(f"#{part}") for part in _TC_PARTS)
        name = _tc_get("Наименование", fields)

        # R2 stock aggregate (main.py:348-365). Only rows with some
        # text count, so an Остатки part whose rows are all empty emits
        # NO stock columns (available falls through to the '1' default).
        qty = _tc_get("КоличествоОстаток", fields, "0")
        wh = _tc_get("СкладНаименование", fields)
        total = F.aggregate(
            stock,
            F.lit(0.0),
            lambda acc, r: acc + F.coalesce(qty(r).try_cast("double"), F.lit(0.0)),
        )
        listed = F.filter(
            stock,
            lambda r: F.coalesce(
                qty(r).try_cast("double") > 0,  # parseable & positive
                qty(r) != "0",  # unparseable & not the '0' default
            ),
        )
        details = F.array_join(
            F.transform(listed, lambda r: F.concat(wh(r), F.lit(": "), qty(r))), "///"
        )
        has_stock = F.size(stock) > 0
        # total_stock starts as Python int 0 and only becomes float
        # when some quantity parses — str() renders '0' in the
        # all-unparseable case, '0.0'/'5.0' otherwise
        any_parsed = F.exists(stock, lambda r: qty(r).try_cast("double").isNotNull())
        out.set("available", F.when(has_stock, F.when(total > 0, "1").otherwise("0")))
        out.set(
            "stock_total",
            F.when(has_stock, F.when(any_parsed, _s(total)).otherwise(F.lit("0"))),
        )
        out.set("stock_details", F.when(has_stock, details))

        # R3 price fold — faithful document-order state machine
        # (main.py:367-376): Цена sets price; ЦенаСкидка!='0' moves
        # price to oldprice and takes over.
        value = _tc_get("Значение", fields)
        state = F.aggregate(
            F.filter(prices, lambda r: (name(r) != "") & (value(r) != "")),
            F.struct(
                F.lit(None).cast("string").alias("price"),
                F.lit(None).cast("string").alias("oldprice"),
            ),
            lambda acc, r: F.when(
                name(r) == "Цена",
                F.struct(value(r).alias("price"), acc["oldprice"].alias("oldprice")),
            )
            .when(
                (name(r) == "ЦенаСкидка") & (value(r) != "0"),
                F.struct(
                    value(r).alias("price"),
                    F.coalesce(acc["price"], F.lit("")).alias("oldprice"),
                ),
            )
            .otherwise(acc),
        )
        out.set("price", state["price"])
        out.set("oldprice", state["oldprice"])

        # R4 materials (main.py:378-399): the scalar ID_Материала's
        # items merged with the part's ids
        out.set("материалы", distinct_join(F.transform(materials, name)))
        scalar_ids = out.cols.get("ID_Материала", F.lit(None))
        mat_ids = F.transform(materials, _tc_get("ID_Материала", fields))
        merged = F.concat(F.split(F.coalesce(scalar_ids, F.lit("")), "///"), mat_ids)
        out.set("ID_Материала", F.coalesce(distinct_join(merged), scalar_ids))

        # R5 styles / site groups (main.py:400-412)
        out.set("стили", distinct_join(F.transform(styles, name)))
        group_names = F.transform(groups, name)
        out.set("category_path", distinct_join(group_names))
        out.set("categoryId", F.try_element_at(F.filter(group_names, lambda x: x != ""), F.lit(1)))

    # defaults (main.py:440-449)
    out.set("available", F.coalesce(out.cols.get("available", F.lit(None)), F.lit("1")))
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

    flat = df.select(*[expr.alias(name) for name, expr in out.cols.items()], *carried)
    # R7: global '///' re-dedup pass (main.py:449-451) — one lambda over
    # the array of every column (all strings), by reference
    names = list(out.cols)
    redup = F.transform(
        F.array(*[quoted_col(name) for name in names]),
        lambda c: F.when(c.contains("///"), dedup_delimited(c)).otherwise(c),
    )
    flat = flat.select(redup.alias("#redup"), *carried)
    redup = F.col("#redup")
    return flat.select(*[redup[i].alias(name) for i, name in enumerate(names)], *carried)


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
            last = F.try_element_at(c, F.lit(-1))  # later children overwrite (plain dict set)
            el = dt.elementType
            if isinstance(el, T.StructType):
                if VALUE_TAG in el.names:
                    out.fill_missing(tag, _nonempty(last[VALUE_TAG]))
                for sub in el.fields:
                    if _is_attr(sub.name):
                        out.set(f"{tag}_{sub.name[1:]}", _s(last[sub.name]))
            else:
                out.fill_missing(tag, _nonempty(last))
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
