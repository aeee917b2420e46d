"""Golden-output tests for the four XML dialect flatteners
(SURVEY §2.3-2.5; FIXTURES.md F1-F6)."""

from __future__ import annotations

import os

import pytest

from magicxml_spark.operators.category_path import build_category_paths
from magicxml_spark.operators.flatten import (
    flatten_offer_records,
    flatten_russian_records,
    flatten_service_records,
)
from magicxml_spark.sources.xml_source import (
    detect_dialect,
    read_categories,
    read_xml_records,
)

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


def _rows(df, key):
    return {
        r[key]: {k: v for k, v in r.asDict().items() if v is not None}
        for r in df.collect()
    }


@pytest.fixture(scope="module")
def offer_rows(spark, keep):
    df, dialect = read_xml_records(spark, f"{FIX}/cat.xml", keep)
    assert dialect == "offer"
    cats = read_categories(spark, f"{FIX}/cat.xml")
    paths = build_category_paths(cats, skip_undefined_names=True)
    return _rows(flatten_offer_records(df, dialect, category_paths=paths), "attr_id")


def test_offer_attrs_and_category_path(offer_rows):
    o = offer_rows["101"]
    assert o["attr_available"] == "1"
    assert o["category_path"] == "Мебель///Диваны///Угловые"
    assert o["categoryId"] == "3"
    # string fidelity: price survives byte-for-byte (main.py all-strings)
    assert o["price"] == "1234.50"


def test_offer_param_pivot(offer_rows):
    o = offer_rows["101"]
    assert o["Цвет"] == "Синий, Красный"  # repeats ', '-append (P14)
    assert o["Размер"] == "120x200"  # '?'-strip (P11)
    assert "42" not in o  # digit-named keys dropped (main.py:260-261)


def test_offer_stock_hoist_and_images(offer_rows):
    o = offer_rows["101"]
    assert o["quantity"] == "5" and o["quantity_unit"] == "pcs"
    assert o["warehouse"] == "Main"
    assert o["pictures"] == "http://x.ru/img/1.jpg///http://x.ru/img/2.jpg"


def test_offer_description_cleaned(offer_rows):
    assert offer_rows["101"]["description"] == "<p>Отличный диван</p>"
    assert offer_rows["102"]["description"] == ""  # no description tag


def test_offer_name_not_sanitized_when_populated(offer_rows):
    # quirk P10: transforms only fire when the raw pass left it empty
    assert offer_rows["101"]["name"] == "Диван «Мечта» ( большой )"


def test_offer_deep_descendants_and_attr_images(offer_rows):
    o = offer_rows["102"]
    assert o["deep"] == "deepval"  # P6 deep-descendant hoist
    # attr containing 'image' feeds pictures (ext arm); 'img/' infix arm
    assert o["pictures"] == "http://pic.io/d.webp///site.com/img/table.png"
    assert o["available"] == "1"  # P18 default
    assert o["category_path"] == "Мебель"


@pytest.fixture(scope="module")
def product_rows(spark, keep):
    # NB: auto-detection says 'offer' here because a nested <offer>
    # exists — the reference behaves identically (main.py:1464 probes
    # .//offer first); product mode is reached via the preset_id
    # override (main.py:2292), which maps to the explicit dialect arg.
    df, dialect = read_xml_records(spark, f"{FIX}/products.xml", keep, dialect="product")
    assert dialect == "product"
    return _rows(flatten_offer_records(df, dialect), "attr_id")


def test_product_parent_filter(product_rows):
    # Q1: products containing nested <offer> dropped
    assert set(product_rows) == {"P1", "P3"}


def test_product_fabric_features_pivot(product_rows):
    p = product_rows["P1"]
    assert p["fabric_Состав"] == "Хлопок, Лен"
    assert p["feature_Стиль"] == "Лофт"
    assert p["category_path"] == "Undefined"  # non-offer dialect


def test_product_description_from_name(product_rows):
    # quirk P17: product dialect cleans .//name into description
    assert product_rows["P1"]["description"] == "<p>Кровать</p>"


def test_product_image_predicate(product_rows):
    # 'bad url' fails every predicate arm; the good one passes
    assert product_rows["P1"]["pictures"] == "http://x.ru/img/bed.jpg"


@pytest.fixture(scope="module")
def russian_rows(spark, keep):
    df, dialect = read_xml_records(spark, f"{FIX}/c1.xml", keep)
    assert dialect == "russian"
    return _rows(flatten_russian_records(df), "ID")


def test_russian_stock_aggregate(russian_rows):
    e = russian_rows["E-1"]
    assert e["stock_total"] == "5.0"  # str(float) fidelity
    assert e["available"] == "1"
    # zero-qty warehouse dropped; unparseable non-'0' qty still listed
    assert e["stock_details"] == "Main: 5///Odd: много"


def test_russian_price_pivot(russian_rows):
    assert russian_rows["E-1"]["price"] == "800"
    assert russian_rows["E-1"]["oldprice"] == "1000"
    # ЦенаСкидка == '0' leaves base price alone
    assert russian_rows["E-2"]["price"] == "500"
    assert "oldprice" not in russian_rows["E-2"]


def test_russian_materials_merge(russian_rows):
    # scalar ID_Материала merged with ТЧ ids, order-preserving dedup
    assert russian_rows["E-1"]["ID_Материала"] == "M1///M2///M3"
    assert russian_rows["E-1"]["материалы"] == "Ткань///Дерево"


def test_russian_renames_and_sanitize(russian_rows):
    e = russian_rows["E-1"]
    assert e["vendor"] == e["vendorCode"] == e["Артикул"] == "ART-77"
    assert e["name"] == "Диван (угловой ) серый"  # sanitized (R6)
    assert e["глубина"] == "90" and e["вес"] == "45.5"
    assert e["param_Цвет"] == "Серый"
    assert e["id"] == "E-1"


def test_russian_plan_stays_small(spark, keep):
    # Why a bound: each ТЧ part's rows are stripped once in a projection
    # of their own and R7 re-dedups column references. An expression
    # re-inlined into every rule that reads it grows this plan about
    # fivefold (94,350 characters), and the driver builds, analyses and
    # optimizes that plan on every 1C conversion.
    df, _ = read_xml_records(spark, f"{FIX}/c1.xml", keep)
    plan = flatten_russian_records(df)._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan) < 40_000


def test_russian_category_from_site_groups(russian_rows):
    assert russian_rows["E-1"]["category_path"] == "Мебель///Диваны"
    assert russian_rows["E-1"]["categoryId"] == "Мебель"
    assert russian_rows["E-2"]["category_path"] == "Undefined"


@pytest.fixture(scope="module")
def service_rows(spark, keep):
    df, dialect = read_xml_records(spark, f"{FIX}/svc.xml", keep)
    assert dialect == "service"
    return {r.asDict().get("id") or r.asDict().get("sid"): {
        k: v for k, v in r.asDict().items() if v is not None
    } for r in flatten_service_records(df).collect()}


def test_service_defaults(service_rows):
    s1 = service_rows["S1"]
    assert s1["available"] == "0"  # attr available, raw-named
    assert s1["category_path"] == "Доставка ( быстрая )"  # RAW name quirk
    assert s1["name"] == "Доставка (быстрая )"  # sanitized after
    assert s1["price_currency"] == "RUR"
    assert s1["service_type"] == "verification_service"
    s2 = service_rows["S2"]
    assert s2["categoryId"] == "S2"  # sid fallback
    assert s2["category_path"] == "Service"


def test_dialect_detection_order():
    assert detect_dialect("<products><product/></products>") == "product"
    assert detect_dialect("<offers><offer/><product/></offers>") == "offer"


@pytest.fixture(scope="module")
def nested_rows(spark, keep):
    df, dialect = read_xml_records(spark, f"{FIX}/nested.xml", keep)
    return _rows(flatten_offer_records(df, dialect), "attr_id")


def test_nested_description_found(nested_rows):
    # reference: find('.//description') — any depth (main.py:309)
    assert nested_rows["N1"]["description"] == "<p>Deep desc</p>"
    assert nested_rows["N2"]["description"] == ""


def test_nested_params_pivoted(nested_rows):
    # reference: findall('.//param') — any depth (main.py:247)
    assert nested_rows["N1"]["Цвет"] == "red, blue"
    assert "42" not in nested_rows["N1"]


def test_deep_repeated_first_nonempty(nested_rows):
    # reference iter() fills from the first occurrence WITH text
    assert nested_rows["N1"]["barcode"] == "4601234567890"


def test_pictures_whitespace_padded_urls(spark):
    # Regression (round-2 ADVICE high): F.trim passed bare to F.transform
    # bound its optional 2nd param to the array INDEX, so padded URLs kept
    # their whitespace (failing the predicate) and URLs whose ends matched
    # the index digits were corrupted. strip_ws lambda fixes both.
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("picture", T.ArrayType(T.StringType()))])
    df = spark.createDataFrame(
        [
            (
                [
                    "  http://a.ru/pad0.jpg  ",  # padded, ends in '0' + index 0
                    " http://a.ru/x1.png",       # padded, contains '1' + index 1
                    "   ",                       # whitespace-only -> dropped
                    "http://a.ru/plain.gif",
                ],
            )
        ],
        schema,
    )
    got = flatten_offer_records(df).select("pictures").collect()[0][0]
    assert got == (
        "http://a.ru/pad0.jpg///http://a.ru/plain.gif///http://a.ru/x1.png"
    )


def test_russian_stock_empty_rows_and_unparseable(spark, keep, tmp_path):
    """ADVICE r1 parity: an Остатки part whose rows are all empty builds
    an empty tc_data in the reference (main.py:339-347), so NO stock
    columns are emitted and available falls through to the '1' default;
    and when no quantity ever parses, total_stock stays Python int 0 ->
    str renders '0', not '0.0'."""
    doc = (
        "<Корневой>"
        "<ЭлементСправочника><ID>E-9</ID><Наименование>X</Наименование>"
        '<ТЧ ИмяТабличнойЧасти="Остатки">'
        "<ЭлементТЧ><СкладНаименование></СкладНаименование>"
        "<КоличествоОстаток>  </КоличествоОстаток></ЭлементТЧ>"
        "<ЭлементТЧ><СкладНаименование/><КоличествоОстаток/></ЭлементТЧ>"
        "</ТЧ></ЭлементСправочника>"
        "<ЭлементСправочника><ID>E-10</ID><Наименование>Y</Наименование>"
        '<ТЧ ИмяТабличнойЧасти="Остатки">'
        "<ЭлементТЧ><СкладНаименование>W</СкладНаименование>"
        "<КоличествоОстаток>N/A</КоличествоОстаток></ЭлементТЧ>"
        "</ТЧ></ЭлементСправочника>"
        "</Корневой>"
    )
    p = tmp_path / "stock_edge.xml"
    p.write_text(doc, encoding="utf-8")
    df, dialect = read_xml_records(spark, str(p), keep)
    assert dialect == "russian"
    rows = _rows(flatten_russian_records(df), "ID")

    e9 = rows["E-9"]  # all-empty rows -> no stock block at all
    assert "stock_total" not in e9
    assert "stock_details" not in e9
    assert e9["available"] == "1"

    e10 = rows["E-10"]  # present but unparseable -> int-0 formatting
    assert e10["available"] == "0"
    assert e10["stock_total"] == "0"
    assert e10["stock_details"] == "W: N/A"


def test_pinned_divergence_deep_repeated_struct_first_element(spark, keep, tmp_path):
    """PINNED APPROXIMATION (flatten.py module docstring): a repeated
    nested STRUCT uses its FIRST element's subtree for deep first-wins
    fill. The reference's iter() walks every occurrence, so a field
    appearing only in the SECOND <block> would be picked up there —
    here it is not. Divergence is reachable only for repeated deep
    containers with heterogeneous children (none of the four dialects'
    real feeds do this)."""
    doc = (
        "<offers><offer id='D1'><name>n</name>"
        "<specs><block><xdepth>1</xdepth></block>"
        "<block><ydepth>2</ydepth></block></specs>"
        "</offer></offers>"
    )
    p = tmp_path / "deep.xml"
    p.write_text(doc, encoding="utf-8")
    df, dialect = read_xml_records(spark, str(p), keep)
    rows = _rows(flatten_offer_records(df, dialect), "attr_id")
    d1 = rows["D1"]
    assert d1["xdepth"] == "1"  # first block's subtree fills
    assert "ydepth" not in d1  # second block's subtree is NOT walked


def test_pinned_divergence_param_name_reappend_top_level_only(spark, keep, tmp_path):
    """PINNED APPROXIMATION: the P15 'V, V' re-append quirk
    (main.py:268-282) fires for TOP-LEVEL param_name_* tags only. A
    nested one is still flattened (deep first-wins) but without the
    re-append doubling."""
    doc = (
        "<offers><offer id='Q1'><name>n</name>"
        "<param_name_size>42?</param_name_size>"
        "<wrap><param_name_color>red</param_name_color></wrap>"
        "</offer></offers>"
    )
    p = tmp_path / "pn.xml"
    p.write_text(doc, encoding="utf-8")
    df, dialect = read_xml_records(spark, str(p), keep)
    rows = _rows(flatten_offer_records(df, dialect), "attr_id")
    q1 = rows["Q1"]
    assert q1["param_name_size"] == "42?, 42"  # top-level: quirk applies
    assert q1["param_name_color"] == "red"  # nested: plain fill, no quirk


def test_repeated_child_with_text_and_attributes(spark, keep, tmp_path):
    """A repeated direct child with text and attributes: its texts are
    '///'-joined with the reference's order-preserving dedup (P4), its
    attribute values '///'-joined as they come."""
    doc = (
        "<offers><offer id='R1'><name>n</name>"
        "<barcode type='a'> 1 </barcode><barcode type='b'>2</barcode>"
        "<barcode type='c'>1</barcode>"
        "</offer></offers>"
    )
    p = tmp_path / "repeated.xml"
    p.write_text(doc, encoding="utf-8")
    df, dialect = read_xml_records(spark, str(p), keep)
    r1 = _rows(flatten_offer_records(df, dialect), "attr_id")["R1"]
    assert r1["barcode"] == "1///2"
    assert r1["barcode_type"] == "a///b///c"


def test_self_closing_params_pivot_to_empty(spark, keep, tmp_path):
    """Spark infers no ``_VALUE`` for a ``<param>`` that is empty in
    every record; its pivot column reads as an empty value."""
    doc = (
        "<offers><offer id='E1'><name>a</name><param name='Цвет'/></offer>"
        "<offer id='E2'><name>b</name><param name='Цвет'/><param name='Вес'/></offer>"
        "</offers>"
    )
    p = tmp_path / "empty_params.xml"
    p.write_text(doc, encoding="utf-8")
    df, dialect = read_xml_records(spark, str(p), keep)
    rows = _rows(flatten_offer_records(df, dialect), "attr_id")
    assert rows["E1"]["Цвет"] == "" and "Вес" not in rows["E1"]
    assert rows["E2"]["Цвет"] == "" and rows["E2"]["Вес"] == ""


def test_empty_feature_pivots_to_empty(spark, keep, tmp_path):
    """A product whose only ``<feature>`` is empty: no ``_VALUE`` field
    is inferred, and its pivot column reads as an empty value."""
    doc = (
        "<catalog><products><product id='F1'><name>a</name>"
        "<features><feature name='Стиль'/></features></product>"
        "</products></catalog>"
    )
    p = tmp_path / "empty_feature.xml"
    p.write_text(doc, encoding="utf-8")
    df, dialect = read_xml_records(spark, str(p), keep)
    assert dialect == "product"
    rows = _rows(flatten_offer_records(df, dialect), "attr_id")
    assert rows["F1"]["feature_Стиль"] == ""
