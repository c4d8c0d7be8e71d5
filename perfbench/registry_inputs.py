"""Seeded registry inputs for the `registry_etl` workload, and the
expected pipeline outputs they must produce.

Shapes follow the reference handlers with their exact headers:

- Belarus workbook: a title row, the header row, a prolog row, then
  data (`read_excel(skip_rows=1)`, `promote_headers(skip_rows=2)`);
  brands with stray outer spaces, rows flagged `исключен` and the
  negative case `исключение`, PNGs anchored to brand cells.
- Kazakhstan workbook: three title rows, a header row with a split word
  (`Наименова\\nние`) and line breaks, a prolog row, then data; cells
  with NBSP and `ё`; PNGs anchored to brand cells.
- Kyrgyzstan docx: one table whose header has an empty and a duplicate
  name and the misspelled headers the pipeline renames, a second header
  row, ragged rows, continuation rows, `Name:` noise rows and
  registration numbers written as `№ 0123/ТЗ`.

The expected rows are computed in plain Python from the generated
cells, with the enrichment columns following `MockLLMClient`'s
semantics (brand prompt upper-cased for English, lower-cased for
Russian, excluded rows left empty).
"""

from __future__ import annotations

import re
import unicodedata

import numpy as np

from gov_data_pipeline_spark.country_pipelines import (
    BELARUS_BRAND,
    BELARUS_DESC,
    KAZ_BRAND,
    KAZ_DESC,
    KG_BRAND,
    KG_KEY,
    KG_RENAMES,
)
from gov_data_pipeline_spark.sources.docx_zip import write_docx_table
from gov_data_pipeline_spark.sources.png_codec import image_to_data_uri, solid_png
from gov_data_pipeline_spark.sources.xlsx_zip import write_xlsx

IMAGE_COL = "Изображение"
BRAND_WORDS = ("Альфа Вектор Нова Orion Zenit Сокол Lumen Тайга Astra Берёза "
               "Север Polar Ника Delta Гранит Vita").split()
GOODS = ("одежда обувь игрушки парфюмерия часы сумки напитки косметика "
         "электроника посуда").split()
OWNERS = "ООО Альфа|АО Север|ИП Иванов|Orion Ltd|ТОО Тайга|Zenit GmbH".split("|")
BY_FILLERS = ["Регистрационный номер", "Правообладатель", "Срок действия"]
KZ_FILLERS = ["Правообладатель", "Срок  действия"]
KG_HEADER = [KG_KEY, KG_BRAND, *KG_RENAMES.keys(), "Доверенные лица правообладателя",
             "Номер и дата письма ГТС", "", KG_KEY]

_EXCLUDED = r"(?<![а-я])" + r"\s*".join("исключен") + r"(?![а-я])"
_PUNCT_TOKEN = r"^[!\"#$%&'()*+,\-./:;<=>?@\[\]\^_`{|}~]+$"


def _brand(rng: np.random.Generator) -> str:
    return " ".join(BRAND_WORDS[i] for i in rng.integers(0, len(BRAND_WORDS), 2))


def _desc(rng: np.random.Generator) -> str:
    return f"{GOODS[int(rng.integers(0, len(GOODS)))]}, класс {int(rng.integers(1, 46))}"


def _flag(rng: np.random.Generator, brand: str) -> str:
    """~4% of brands flagged excluded, ~2% carry the near miss."""
    u = rng.random()
    if u < 0.04:
        return brand + " исключен"
    if u < 0.06:
        return brand + " исключение"
    return brand


def _png(k: int) -> bytes:
    return solid_png(4, 4, (k * 37 % 256, k * 91 % 256, k * 13 % 256))


def _prompt(brand: str, desc: str | None) -> str:
    """Python mirror of `llm.enrich.clean_brand_prompt_col` (Java regex
    classes are ASCII, hence re.ASCII)."""
    p = brand
    if desc is not None and desc.strip(" ") != "":
        p = f"{brand}. Description: {desc}"
    p = re.sub(r"\d+", "", p, flags=re.ASCII)
    p = re.sub(r"\s+", " ", p, flags=re.ASCII)
    p = re.sub(r"^\s+|\s+$", "", p, flags=re.ASCII)
    p = " ".join(t for t in p.split(" ") if not re.match(_PUNCT_TOKEN, t))
    return p[:2000] + "..." if len(p) > 2000 else p


def _enrich(row: dict[str, str], brand_col: str, desc_col: str | None) -> dict[str, str]:
    """Expected enrichment columns under MockLLMClient semantics."""
    text = " ".join(row.values()).lower().replace("ё", "е")
    excluded = re.search(_EXCLUDED, text) is not None
    plain = re.sub(r"^\s+|\s+$", "", row[brand_col].replace(" (RECOG)", ""), flags=re.ASCII)
    en = ru = ""
    if plain and not excluded:
        prompt = _prompt(plain, row[desc_col] if desc_col else None)
        en, ru = prompt.upper(), prompt.lower()
    return {**row, "variants_en": en, "variants_ru": ru, "excluded": "Да" if excluded else "Нет"}


def _clean_text(v: str) -> str:
    """Python mirror of `transforms.clean_text_col` on this data."""
    v = v.strip().replace("\n", " ").replace("\r", "")
    v = re.sub(r"\s{2,}", " ", v)
    v = unicodedata.normalize("NFKC", v)
    return re.sub(r"[^\w\s\.,;:№\-]", "", v)


def belarus(rng: np.random.Generator, n: int) -> tuple[bytes, list, list[dict]]:
    """(workbook, sheet rows, expected output rows)."""
    header = [BELARUS_BRAND, BELARUS_DESC, *BY_FILLERS]
    rows: list[list[str]] = [["Реестр объектов интеллектуальной собственности"], header,
                             [str(i + 1) for i in range(len(header))]]
    images, expected = [], []
    for k in range(n):
        brand = _flag(rng, _brand(rng))
        raw_brand = f"  {brand} " if rng.random() < 0.1 else brand
        cells = [raw_brand, _desc(rng), f"{100000 + k}",
                 OWNERS[int(rng.integers(0, len(OWNERS)))], f"до 20{int(rng.integers(25, 35))}"]
        uri = ""
        if rng.random() < 0.1:
            png = _png(k)
            images.append((len(rows), 0, 0, png))
            uri = image_to_data_uri(png)
        rows.append(cells)
        out = dict(zip(header, (c.strip() for c in cells)))
        out[IMAGE_COL] = uri
        expected.append(_enrich(out, BELARUS_BRAND, BELARUS_DESC))
    return write_xlsx(rows, images), rows, expected


def kazakhstan(rng: np.random.Generator, n: int) -> tuple[bytes, list, list[dict]]:
    header = ["Наименова\nние (вид, описание, изображение) объекта интеллектуальной "
              "собственности",
              "Наименование товаров, класс товаров по МКТУ\nили код товаров по ТН ВЭД",
              *KZ_FILLERS]
    names = [KAZ_BRAND, KAZ_DESC, "Правообладатель", "Срок действия"]
    rows: list[list[str]] = [["Реестр"], ["объектов интеллектуальной собственности"],
                             ["по состоянию на 01.01.2026"], header,
                             [str(i + 1) for i in range(len(header))]]
    images, expected = [], []
    for k in range(n):
        brand = _flag(rng, _brand(rng))
        if rng.random() < 0.1:
            brand = brand.replace(" ", "\u00a0", 1)
        cells = [brand, _desc(rng), OWNERS[int(rng.integers(0, len(OWNERS)))],
                 f"до 20{int(rng.integers(25, 35))}"]
        uri = ""
        if rng.random() < 0.1:
            png = _png(k)
            images.append((len(rows), 0, 0, png))
            uri = image_to_data_uri(png)
        rows.append(cells)
        out = dict(zip(names, (_clean_text(c) for c in cells)))
        out[IMAGE_COL] = uri
        expected.append(_enrich(out, KAZ_BRAND, KAZ_DESC))
    return write_xlsx(rows, images), rows, expected


def kyrgyzstan(rng: np.random.Generator, n: int) -> tuple[bytes, list, list[dict]]:
    width = len(KG_HEADER)
    names = [KG_KEY, KG_BRAND, *KG_RENAMES.values(), "Доверенные лица правообладателя",
             "Номер и дата письма ГТС", "Unnamed_1", f"{KG_KEY}_1"]
    rows: list[list[str]] = [list(KG_HEADER), [str(i + 1) for i in range(width)]]
    expected = []
    for k in range(n):
        key = f"{1000 + k:04d}/ТЗ"
        cells = [f"№ {key}" if rng.random() < 0.1 else key, _flag(rng, _brand(rng)),
                 f"Свидетельство {k}", _desc(rng), OWNERS[int(rng.integers(0, len(OWNERS)))],
                 f"до 20{int(rng.integers(25, 35))}", "", f"Письмо {k}", "", ""]
        if rng.random() < 0.3:
            cells = cells[: int(rng.integers(3, width))]  # ragged: padded on read
        rows.append(cells)
        merged = [[c] for c in cells + [""] * (width - len(cells))]
        if rng.random() < 0.1:
            cont = ["продолжение", BRAND_WORDS[k % len(BRAND_WORDS)]] + [""] * (width - 2)
            rows.append(cont)
            for acc, c in zip(merged, cont):
                acc.append(c)
        if rng.random() < 0.03:
            rows.append(["Name: служебная строка"] + ["x"] * (width - 1))
        merged[0][0] = key
        out = dict(zip(names, (" ".join(v for v in acc if v) for acc in merged)))
        expected.append(_enrich(out, KG_BRAND, None))
    return write_docx_table(rows), rows, expected


def rows_key(rows: list[dict]) -> list[tuple]:
    """Order-insensitive comparable form of a list of row dicts."""
    return sorted(tuple(sorted(r.items())) for r in rows)
