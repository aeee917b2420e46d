"""Seeded product-feed generator in the four XML dialects the converter
detects: YML ``<offer>`` catalogs, ``<product>`` catalogs, 1C
``<ЭлементСправочника>`` exports and ``<service>`` lists.

Every record becomes exactly one CSV row, so the record count returned
by ``write_feed`` is the expected row count of the conversion. Content
(ids, names, prices, parameters, pictures, category tree) comes from the
seed; the dialect and target size come from the caller.
"""

from __future__ import annotations

import random

_COLORS = ["Синий", "Красный", "Зелёный", "Белый", "Чёрный", "Серый"]
_MATERIALS = ["дуб", "сталь", "пластик", "ткань", "стекло", "бук"]
_NOUNS = ["Диван", "Стол", "Стул", "Шкаф", "Кровать", "Полка", "Кресло", "Тумба"]
_ADJS = ["угловой", "большой", "малый", "складной", "лофт", "classic", "nova"]
_STYLES = ["Лофт", "Модерн", "Классика", "Сканди"]
_WAREHOUSES = ["Main", "West", "East", "North"]


def _desc(r: random.Random, rid: int) -> str:
    words = " ".join(r.choice(_ADJS) for _ in range(r.randint(6, 14)))
    return (
        f"&lt;div&gt;Товар {rid}: &lt;b&gt;{words}&lt;/b&gt; — материалы, "
        "размеры и уход.&lt;/div&gt;"
    )


def _name(r: random.Random, rid: int) -> str:
    return f"{r.choice(_NOUNS)} {r.choice(_ADJS)} ( {rid % 97} )"


def _offer(r: random.Random, rid: int, n_cat: int) -> str:
    pics = "".join(
        f"<picture>http://cdn.example/img/{rid}_{i}.jpg</picture>"
        for i in range(r.randint(0, 3))
    )
    params = "".join(
        f'<param name="{k}">{v}</param>'
        for k, v in (
            ("Цвет", r.choice(_COLORS)),
            ("Размер", f"{r.randint(40, 240)}x{r.randint(40, 240)}"),
            ("Материал", r.choice(_MATERIALS)),
            ("Гарантия", f"{r.randint(1, 5)} г."),
        )
        if r.random() < 0.85
    )
    return (
        f'<offer id="{rid}" available="{r.randint(0, 1)}">'
        f"<name>{_name(r, rid)}</name><price>{r.uniform(100, 99999):.2f}</price>"
        f"<currencyId>RUR</currencyId><categoryId>{r.randint(1, n_cat)}</categoryId>"
        f"<vendor>Vendor{r.randint(1, 200)}</vendor>{pics}"
        f"<description>{_desc(r, rid)}</description>{params}"
        f'<stock><quantity unit="pcs">{r.randint(0, 50)}</quantity>'
        f"<warehouse>{r.choice(_WAREHOUSES)}</warehouse></stock></offer>\n"
    )


def _product(r: random.Random, rid: int) -> str:
    photos = "".join(
        f"<photo>http://cdn.example/p/{rid}_{i}.jpg</photo>" for i in range(r.randint(1, 3))
    )
    return (
        f'<product id="P{rid}"><name>{_name(r, rid)}</name>'
        f"<price>{r.randint(100, 90000)}</price><photos>{photos}</photos>"
        f'<fabric><feature name="Состав">{r.choice(_MATERIALS)}</feature></fabric>'
        f'<features><feature name="Стиль">{r.choice(_STYLES)}</feature>'
        f'<feature name="Цвет">{r.choice(_COLORS)}</feature></features>'
        f"<desc>{_desc(r, rid)}</desc></product>\n"
    )


def _tc(name: str, rows: list[str]) -> str:
    body = "".join(f"<ЭлементТЧ>{row}</ЭлементТЧ>" for row in rows)
    return f'<ТЧ ИмяТабличнойЧасти="{name}">{body}</ТЧ>'


def _russian(r: random.Random, rid: int) -> str:
    stock = [
        f"<СкладНаименование>{w}</СкладНаименование>"
        f"<КоличествоОстаток>{r.randint(0, 40)}</КоличествоОстаток>"
        for w in r.sample(_WAREHOUSES, r.randint(1, 3))
    ]
    prices = [
        f"<Наименование>Цена</Наименование><Значение>{r.randint(500, 90000)}</Значение>",
        f"<Наименование>ЦенаСкидка</Наименование><Значение>{r.choice([0, r.randint(100, 500)])}</Значение>",
    ]
    mats = [
        f"<Наименование>{m}</Наименование><ID_Материала>M{_MATERIALS.index(m)}</ID_Материала>"
        for m in r.sample(_MATERIALS, r.randint(1, 2))
    ]
    return (
        f"<ЭлементСправочника><ID>E-{rid}</ID><Наименование>{_name(r, rid)}</Наименование>"
        f"<Артикул>ART-{r.randint(1, 99999)}</Артикул>"
        f"<ОписаниеДляСайта>{_desc(r, rid)}</ОписаниеДляСайта>"
        f"<Глубина>{r.randint(30, 120)}</Глубина><Вес>{r.uniform(1, 90):.1f}</Вес>"
        f"<Цвет>{r.choice(_COLORS)}</Цвет>"
        + _tc("Остатки", stock)
        + _tc("Цены", prices)
        + _tc("Материалы", mats)
        + _tc("Стили", [f"<Наименование>{r.choice(_STYLES)}</Наименование>"])
        + "</ЭлементСправочника>\n"
    )


def _service(r: random.Random, rid: int) -> str:
    return (
        f'<service id="S{rid}" available="{r.randint(0, 1)}">'
        f"<name>Услуга {r.choice(_ADJS)} ( {rid % 31} )</name>"
        f'<price currency="RUR">{r.randint(100, 20000)}</price>'
        f"<url>http://svc.example/{rid}</url><description>{_desc(r, rid)}</description>"
        "</service>\n"
    )


def write_feed(path: str, dialect: str, target_bytes: int, seed: int) -> int:
    """Write one catalog of about ``target_bytes`` bytes (one record
    more than fits); return the number of records."""
    r = random.Random(seed)
    n = 0
    n_cat = 300
    with open(path, "w", encoding="utf-8") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n')
        if dialect == "offer":
            f.write('<yml_catalog date="2026-01-01">\n<shop><name>Shop</name>\n<categories>\n')
            for c in range(1, n_cat + 1):
                parent = f' parentId="{r.randint(1, c - 1)}"' if c > 20 else ""
                f.write(f'<category id="{c}"{parent}>Кат{c}</category>\n')
            f.write("</categories>\n<offers>\n")
            head, tail = "", "</offers></shop></yml_catalog>\n"
        elif dialect == "product":
            head, tail = "<catalog><products>\n", "</products></catalog>\n"
        elif dialect == "russian":
            head, tail = "<Корневой>\n", "</Корневой>\n"
        elif dialect == "service":
            head, tail = "<services>\n", "</services>\n"
        else:
            raise ValueError(f"unknown dialect {dialect!r}")
        f.write(head)
        size = f.tell()
        while size < target_bytes:
            n += 1
            if dialect == "offer":
                rec = _offer(r, n, n_cat)
            elif dialect == "product":
                rec = _product(r, n)
            elif dialect == "russian":
                rec = _russian(r, n)
            else:
                rec = _service(r, n)
            f.write(rec)
            size += len(rec.encode("utf-8"))
        f.write(tail)
    return n
