#!/usr/bin/env python
"""Conversion-core scale rehearsal (VERDICT r2 #7).

Generates a synthetic Yandex-Market YML catalog of a target size
(default ≥1 GB), pushes it through the full flagship pipeline
``xml_to_csv`` (parse -> flatten -> category paths -> param pivot ->
prune -> normalize -> CSV), and reports wall-clock, MB/s, offers/s and
peak RSS (python driver + JVM) for the cold and warm passes. The
cold pass converts; the warm pass re-ingests the same bytes, which
copies the CSV the cold pass wrote. The feed is read by one plain
Spark XML read, as every feed is, so this measures that read at real
size — the prior largest on-record measurement was 52.7 MB.

Usage: python tools/xml_rehearsal.py [target_gb] [workdir]
"""

from __future__ import annotations

import json
import os
import random
import resource
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OFFER_TMPL = (
    '<offer id="{oid}" available="{avail}">'
    "<name>Item {oid} model-{mod}</name>"
    "<price>{price}</price><currencyId>RUR</currencyId>"
    "<categoryId>{cat}</categoryId>"
    "<vendor>Vendor{vendor}</vendor>"
    "{pics}"
    "<description>&lt;div&gt;Solid &lt;b&gt;item&lt;/b&gt; {oid} with long "
    "description text to pad realistic catalog byte sizes; materials, "
    "dimensions and care instructions included.&lt;/div&gt;</description>"
    '<param name="Цвет">{color}</param>'
    '<param name="Размер">{size}x{size2}</param>'
    '<param name="Материал">{material}</param>'
    "<stock><quantity unit="
    '"pcs">{qty}</quantity><warehouse>WH{wh}</warehouse></stock>'
    "</offer>\n"
)
COLORS = ["Синий", "Красный", "Зелёный", "Белый", "Чёрный"]
MATERIALS = ["дуб", "сталь", "пластик", "ткань", "стекло"]


def generate_catalog(path: str, target_bytes: int, n_categories: int = 500) -> int:
    rng = random.Random(42)
    n = 0
    with open(path, "w", encoding="utf-8") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n')
        f.write('<yml_catalog date="2026-01-01">\n<shop><name>Rehearsal</name>\n')
        f.write("<categories>\n")
        # 25 roots, the rest chained onto a random earlier node (depth grows
        # logarithmically — realistic catalog tree)
        for c in range(1, n_categories + 1):
            if c <= 25:
                f.write(f'<category id="{c}">Cat{c}</category>\n')
            else:
                parent = rng.randint(1, c - 1)
                f.write(f'<category id="{c}" parentId="{parent}">Cat{c}</category>\n')
        f.write("</categories>\n<offers>\n")
        while f.tell() < target_bytes:
            # write in chunks of 10k offers to amortize tell()
            parts = []
            for _ in range(10_000):
                n += 1
                npics = rng.randint(0, 3)
                pics = "".join(
                    f"<picture>http://cdn.example/img/{n}_{i}.jpg</picture>"
                    for i in range(npics)
                )
                parts.append(
                    OFFER_TMPL.format(
                        oid=n,
                        avail=rng.randint(0, 1),
                        mod=rng.randint(1, 9999),
                        price=f"{rng.uniform(100, 99999):.2f}",
                        cat=rng.randint(1, n_categories),
                        vendor=rng.randint(1, 200),
                        pics=pics,
                        color=rng.choice(COLORS),
                        size=rng.randint(40, 240),
                        size2=rng.randint(40, 240),
                        material=rng.choice(MATERIALS),
                        qty=rng.randint(0, 50),
                        wh=rng.randint(1, 8),
                    )
                )
            f.write("".join(parts))
        f.write("</offers></shop></yml_catalog>\n")
    return n


def jvm_peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of the py4j-launched JVM, read from /proc."""
    peak = 0.0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"java" not in cmd or b"spark" not in cmd.lower():
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM"):
                        peak = max(peak, int(line.split()[1]) / 1024.0)
        except OSError:
            continue
    return round(peak, 1)


def main() -> None:
    target_gb = float(sys.argv[1]) if len(sys.argv) > 1 else 1.0
    work = sys.argv[2] if len(sys.argv) > 2 else ".scratch/rehearsal"
    os.makedirs(work, exist_ok=True)
    catalog = os.path.join(work, "catalog.xml")

    if not os.path.exists(catalog) or os.path.getsize(catalog) < target_gb * 1e9:
        t0 = time.perf_counter()
        n = generate_catalog(catalog, int(target_gb * 1e9))
        print(
            f"generated {n} offers, {os.path.getsize(catalog)/1e9:.2f} GB "
            f"in {time.perf_counter()-t0:.0f}s",
            file=sys.stderr,
        )

    from magicxml_spark.plans.convert import xml_to_csv
    from magicxml_spark.session import get_spark

    spark = get_spark("xml-rehearsal")
    size_mb = os.path.getsize(catalog) / 1e6
    out = {"catalog_mb": round(size_mb, 1)}
    for label in ("cold", "warm"):
        dst = os.path.join(work, f"out_{label}.csv")
        t0 = time.perf_counter()
        xml_to_csv(spark, catalog, dst)
        dt = time.perf_counter() - t0
        out[f"{label}_s"] = round(dt, 1)
        out[f"{label}_mb_per_s"] = round(size_mb / dt, 1)
    out["driver_peak_rss_mb"] = round(
        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0, 1
    )
    out["jvm_peak_rss_mb"] = jvm_peak_rss_mb()
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
