"""Mask-gated assertion rules (reference rules/assertions.rs:182-249).

The reference's key trick — cheap mask check gates expensive parse — maps
directly onto Catalyst ``when(mask == ..., expensive_expr)`` short-circuits.
All rules are native column expressions (no Python in the hot path); the only
data dependency is a small country dimension, applied as a broadcast join or
inline map (J1/J2).

Schema note: the reference emits a *dynamic* JSON object containing only the
rules that fired (assertions.rs:184).  Spark wants a static schema, so we emit
the fixed superset struct with NULLs for rules that did not fire — a
documented, schema-stable deviation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .masks import mask_pandas_udf

# Date formats in reference priority order (assertions.rs:84-91); single-letter
# Java patterns accept 1-2 digit day/month like chrono's %d/%m.
DATE_FORMATS = ["d-MMM-yyyy", "d-M-yyyy", "d/M/yyyy", "yyyy-M-d", "M/d/yyyy", "yyyyMMdd"]

UK_POSTCODE_RE = (
    r"^(([A-Z][A-HJ-Y]?\d[A-Z\d]?|ASCN|STHL|TDCU|BBND|[BFS]IQQ|PCRN|TKCA) ?"
    r"\d[A-Z]{2}|BFPO ?\d{1,4}|(KY\d|MSR|VG|AI)[ -]?\d{4}|[A-Z]{2} ?\d{2}|GE ?CX|"
    r"GIR ?0A{2}|SAN ?TA1)$"
)

TIMESTAMP_FIELD_KEYWORDS = [
    "time", "timestamp", "epoch", "created", "updated",
    "modified", "date", "ts", "datetime", "when",
]

# Country dimension (J1).  The reference resolves ~250 names via the
# geonamescache crate (assertions.rs:27); we embed the FULL public ISO 3166-1
# name→alpha-3 dim (every current ISO country, lowercase common name) plus the
# alias long tail real customer data hits (historic names, abbreviations,
# official long forms).  UK constituents are special-cased exactly as
# assertions.rs:9-18.
COUNTRY_ISO3 = {
    # ISO 3166-1 common names, A-Z
    "afghanistan": "AFG", "albania": "ALB", "algeria": "DZA",
    "american samoa": "ASM", "andorra": "AND", "angola": "AGO",
    "anguilla": "AIA", "antarctica": "ATA", "antigua and barbuda": "ATG",
    "argentina": "ARG", "armenia": "ARM", "aruba": "ABW",
    "australia": "AUS", "austria": "AUT", "azerbaijan": "AZE",
    "bahamas": "BHS", "bahrain": "BHR", "bangladesh": "BGD",
    "barbados": "BRB", "belarus": "BLR", "belgium": "BEL",
    "belize": "BLZ", "benin": "BEN", "bermuda": "BMU", "bhutan": "BTN",
    "bolivia": "BOL", "bonaire": "BES", "bosnia and herzegovina": "BIH",
    "botswana": "BWA", "bouvet island": "BVT", "brazil": "BRA",
    "british indian ocean territory": "IOT", "brunei": "BRN",
    "bulgaria": "BGR", "burkina faso": "BFA", "burundi": "BDI",
    "cabo verde": "CPV", "cambodia": "KHM", "cameroon": "CMR",
    "canada": "CAN", "cayman islands": "CYM",
    "central african republic": "CAF", "chad": "TCD", "chile": "CHL",
    "china": "CHN", "christmas island": "CXR", "cocos islands": "CCK",
    "colombia": "COL", "comoros": "COM", "congo": "COG",
    "cook islands": "COK", "costa rica": "CRI", "croatia": "HRV",
    "cuba": "CUB", "curacao": "CUW", "cyprus": "CYP", "czechia": "CZE",
    "denmark": "DNK", "djibouti": "DJI", "dominica": "DMA",
    "dominican republic": "DOM", "ecuador": "ECU", "egypt": "EGY",
    "el salvador": "SLV", "equatorial guinea": "GNQ", "eritrea": "ERI",
    "estonia": "EST", "eswatini": "SWZ", "ethiopia": "ETH",
    "falkland islands": "FLK", "faroe islands": "FRO", "fiji": "FJI",
    "finland": "FIN", "france": "FRA", "french guiana": "GUF",
    "french polynesia": "PYF", "french southern territories": "ATF",
    "gabon": "GAB", "gambia": "GMB", "georgia": "GEO", "germany": "DEU",
    "ghana": "GHA", "gibraltar": "GIB", "greece": "GRC",
    "greenland": "GRL", "grenada": "GRD", "guadeloupe": "GLP",
    "guam": "GUM", "guatemala": "GTM", "guernsey": "GGY", "guinea": "GIN",
    "guinea-bissau": "GNB", "guyana": "GUY", "haiti": "HTI",
    "heard island and mcdonald islands": "HMD", "honduras": "HND",
    "hong kong": "HKG", "hungary": "HUN", "iceland": "ISL",
    "india": "IND", "indonesia": "IDN", "iran": "IRN", "iraq": "IRQ",
    "ireland": "IRL", "isle of man": "IMN", "israel": "ISR",
    "italy": "ITA", "jamaica": "JAM", "japan": "JPN", "jersey": "JEY",
    "jordan": "JOR", "kazakhstan": "KAZ", "kenya": "KEN",
    "kiribati": "KIR", "kuwait": "KWT", "kyrgyzstan": "KGZ",
    "laos": "LAO", "latvia": "LVA", "lebanon": "LBN", "lesotho": "LSO",
    "liberia": "LBR", "libya": "LBY", "liechtenstein": "LIE",
    "lithuania": "LTU", "luxembourg": "LUX", "macao": "MAC",
    "madagascar": "MDG", "malawi": "MWI", "malaysia": "MYS",
    "maldives": "MDV", "mali": "MLI", "malta": "MLT",
    "marshall islands": "MHL", "martinique": "MTQ", "mauritania": "MRT",
    "mauritius": "MUS", "mayotte": "MYT", "mexico": "MEX",
    "micronesia": "FSM", "moldova": "MDA", "monaco": "MCO",
    "mongolia": "MNG", "montenegro": "MNE", "montserrat": "MSR",
    "morocco": "MAR", "mozambique": "MOZ", "myanmar": "MMR",
    "namibia": "NAM", "nauru": "NRU", "nepal": "NPL",
    "netherlands": "NLD", "new caledonia": "NCL", "new zealand": "NZL",
    "nicaragua": "NIC", "niger": "NER", "nigeria": "NGA", "niue": "NIU",
    "norfolk island": "NFK", "north korea": "PRK",
    "north macedonia": "MKD", "northern mariana islands": "MNP",
    "norway": "NOR", "oman": "OMN", "pakistan": "PAK", "palau": "PLW",
    "palestine": "PSE", "panama": "PAN", "papua new guinea": "PNG",
    "paraguay": "PRY", "peru": "PER", "philippines": "PHL",
    "pitcairn": "PCN", "poland": "POL", "portugal": "PRT",
    "puerto rico": "PRI", "qatar": "QAT", "reunion": "REU",
    "romania": "ROU", "russia": "RUS", "rwanda": "RWA",
    "saint barthelemy": "BLM", "saint helena": "SHN",
    "saint kitts and nevis": "KNA", "saint lucia": "LCA",
    "saint martin": "MAF", "saint pierre and miquelon": "SPM",
    "saint vincent and the grenadines": "VCT", "samoa": "WSM",
    "san marino": "SMR", "sao tome and principe": "STP",
    "saudi arabia": "SAU", "senegal": "SEN", "serbia": "SRB",
    "seychelles": "SYC", "sierra leone": "SLE", "singapore": "SGP",
    "sint maarten": "SXM", "slovakia": "SVK", "slovenia": "SVN",
    "solomon islands": "SLB", "somalia": "SOM", "south africa": "ZAF",
    "south georgia and the south sandwich islands": "SGS",
    "south korea": "KOR", "south sudan": "SSD", "spain": "ESP",
    "sri lanka": "LKA", "sudan": "SDN", "suriname": "SUR",
    "svalbard and jan mayen": "SJM", "sweden": "SWE",
    "switzerland": "CHE", "syria": "SYR", "taiwan": "TWN",
    "tajikistan": "TJK", "tanzania": "TZA", "thailand": "THA",
    "timor-leste": "TLS", "togo": "TGO", "tokelau": "TKL",
    "tonga": "TON", "trinidad and tobago": "TTO", "tunisia": "TUN",
    "turkey": "TUR", "turkmenistan": "TKM",
    "turks and caicos islands": "TCA", "tuvalu": "TUV", "uganda": "UGA",
    "ukraine": "UKR", "united arab emirates": "ARE",
    "united kingdom": "GBR", "united states": "USA",
    "united states minor outlying islands": "UMI", "uruguay": "URY",
    "uzbekistan": "UZB", "vanuatu": "VUT", "venezuela": "VEN",
    "vietnam": "VNM", "virgin islands, british": "VGB",
    "virgin islands, u.s.": "VIR", "wallis and futuna": "WLF",
    "western sahara": "ESH", "yemen": "YEM", "zambia": "ZMB",
    "zimbabwe": "ZWE", "aland islands": "ALA",
    # aliases: official long forms, historic names, abbreviations
    "czech republic": "CZE", "russian federation": "RUS",
    "united states of america": "USA", "usa": "USA", "us": "USA",
    "u.s.": "USA", "u.s.a.": "USA", "uk": "GBR", "u.k.": "GBR",
    "great britain": "GBR", "britain": "GBR", "uae": "ARE",
    "republic of korea": "KOR", "korea": "KOR", "korea, republic of": "KOR",
    "democratic people's republic of korea": "PRK",
    "ivory coast": "CIV", "cote d'ivoire": "CIV",
    "cape verde": "CPV", "burma": "MMR", "east timor": "TLS",
    "swaziland": "SWZ", "macedonia": "MKD", "holland": "NLD",
    "vatican": "VAT", "vatican city": "VAT", "holy see": "VAT",
    "democratic republic of the congo": "COD", "dr congo": "COD",
    "drc": "COD", "congo-brazzaville": "COG", "congo-kinshasa": "COD",
    "turkiye": "TUR", "viet nam": "VNM", "brunei darussalam": "BRN",
    "lao people's democratic republic": "LAO", "syrian arab republic": "SYR",
    "iran, islamic republic of": "IRN", "bolivia, plurinational state of": "BOL",
    "venezuela, bolivarian republic of": "VEN",
    "tanzania, united republic of": "TZA", "moldova, republic of": "MDA",
    "micronesia, federated states of": "FSM", "curaçao": "CUW",
    "réunion": "REU", "côte d'ivoire": "CIV", "türkiye": "TUR",
    "saint barthélemy": "BLM", "åland islands": "ALA",
}
UK_CONSTITUENTS = {
    "england": ("GBR", "GB-ENG"),
    "scotland": ("GBR", "GB-SCT"),
    "northern ireland": ("GBR", "GB-NIR"),
    "wales": ("GBR", "GB-WLS"),
    "cymru": ("GBR", "GB-WLS"),
}

_EU4 = ["AT", "BE", "BG", "CH", "CY", "CZ", "DK", "EE", "FI", "GR", "HU", "IE",
        "LT", "LU", "LV", "MT", "NL", "NO", "PL", "PT", "RO", "SE", "SI", "SK"]
_EU5 = ["DE", "ES", "FR", "HR", "IT"]


def _strip_quotes(c: Column) -> Column:
    # assertions.rs:186-188 trim_matches('"')
    return F.regexp_replace(c, '^"+|"+$', "")


def _country_map_col():
    pairs = []
    for k, v in COUNTRY_ISO3.items():
        pairs += [F.lit(k), F.lit(v)]
    return F.create_map(*pairs)


def std_date_col(raw: Column) -> Column:
    """F3: first-succeeding format in reference priority order."""
    return F.coalesce(
        *[F.try_to_date(raw, fmt) for fmt in DATE_FORMATS]
    )


def rules_struct(
    field_name: str,
    raw_c: Column,
    hu_c: Column,
    lu_c: Column,
    include_latlon: bool = False,
) -> Column:
    """``Rules`` struct for one field — mirror of execute_assertions.

    ``include_latlon`` enables F9 (poss_latitude/poss_longitude), which the
    reference defines but ships disabled (assertions.rs:212-213)."""
    name = field_name.lower()
    raw = _strip_quotes(raw_c)
    hu = _strip_quotes(hu_c)
    lu = _strip_quotes(lu_c)

    # F1 string_length (chars)
    string_length = F.length(raw)

    # F2 is_numeric, gated lu ∈ {9, 9.9}
    num_gate = lu.isin("9", "9.9")
    is_numeric = F.when(num_gate, raw.try_cast("double").isNotNull())

    # F3 std_date, gated by mask patterns or field name
    date_gate_mask = lu.isin("9_9_9", "9-9-9", "9/9/9", "9-Aa-9")
    date_gate = date_gate_mask | F.lit("date" in name)
    std_date = F.when(date_gate, std_date_col(raw).cast("string"))

    # F4 is_sensible_dob
    if "dob" in name:
        parsed = std_date_col(raw)
        dob_ok = parsed.isNotNull() & parsed.between(
            F.date_sub(F.current_date(), 127 * 52 * 7), F.current_date()
        )
        is_dob = F.when(hu == "99_99_9999", F.coalesce(dob_ok, F.lit(False)))
    else:
        is_dob = F.lit(None).cast("boolean")

    # F5 is_uk_postcode, gated lu=='A9 9A' or hu=='A9A 9A'
    pc_gate = (lu == "A9 9A") | (hu == "A9A 9A")
    is_uk_postcode = F.when(pc_gate, raw.rlike(UK_POSTCODE_RE))

    # F6 poss_postal_country (only for fields whose name contains 'post')
    if "post" in name:
        base = (
            F.when(hu == "9999", F.array(*[F.lit(c) for c in _EU4]))
            .when(hu == "99999", F.array(*[F.lit(c) for c in _EU5]))
            .when(hu == "999-99", F.array(F.lit("SE")))
            .when(hu == "AAA-9999", F.array(F.lit("IE")))
            .otherwise(F.array().cast("array<string>"))
        )
        first = F.substring(raw, 1, 1)
        narrowed = (
            F.when((lu == "9-9999") & (first == "1"),
                   F.array_intersect(base, F.array(F.lit("DE"))))
            .when((hu == "9999") & (first == "0"),
                  F.array_intersect(base, F.array(F.lit("NL"))))
            .when((hu == "99999") & (first == "9"),
                  F.array_intersect(base, F.array(F.lit("FR"))))
            .otherwise(base)
        )
        with_uk = F.when(
            lu.isin("A9 9A", "A9A 9A", "A9A"),
            F.concat(narrowed, F.array(F.lit("UK"))),
        ).otherwise(narrowed)
        poss_postal = F.when(F.size(with_uk) > 0, with_uk)
    else:
        poss_postal = F.lit(None).cast("array<string>")

    # F7 std_country_iso3 / std_region_code
    if "country" in name:
        cm = _country_map_col()
        lowered = F.lower(raw)
        from_dim = cm[lowered]
        uk_map = F.create_map(
            *[x for k, (iso3, _) in UK_CONSTITUENTS.items() for x in (F.lit(k), F.lit(iso3))]
        )
        uk_region = F.create_map(
            *[x for k, (_, reg) in UK_CONSTITUENTS.items() for x in (F.lit(k), F.lit(reg))]
        )
        country_gate = ~lu.rlike("9")
        iso3 = F.when(country_gate, F.coalesce(from_dim, uk_map[lowered]))
        region = F.when(
            country_gate,
            F.coalesce(
                F.when(from_dim.isNotNull(), F.concat(from_dim, F.lit("-"), raw)),
                uk_region[lowered],
            ),
        )
    else:
        iso3 = F.lit(None).cast("string")
        region = F.lit(None).cast("string")

    # F8 unix timestamps (field-name keyword gate is driver-side)
    if any(k in name for k in TIMESTAMP_FIELD_KEYWORDS):
        ln = F.length(raw)
        all9 = lu == "9"  # LU collapses digit runs: all-digits ⇔ LU=='9'
        secs = (
            F.when(ln == 10, raw.try_cast("long"))
            .when(ln == 13, (raw.try_cast("long") / 1000).cast("long"))
            .when(ln == 16, (raw.try_cast("long") / 1000000).cast("long"))
            .when(ln == 19, (raw.try_cast("long") / 1000000000).cast("long"))
        )
        in_range = secs.between(946684800, 4102444800)
        unit = (
            F.when(ln == 10, F.lit("seconds"))
            .when(ln == 13, F.lit("milliseconds"))
            .when(ln == 16, F.lit("microseconds"))
            .when(ln == 19, F.lit("nanoseconds"))
        )
        ts_gate = all9 & raw.try_cast("long").isNotNull() & in_range
        is_unix = F.when(ts_gate, unit)
        # Render in UTC regardless of spark.sql.session.timeZone (the ' UTC'
        # label must be true even on externally created non-UTC sessions):
        # to_utc_timestamp(ts, session_tz) shifts the instant so the session-tz
        # rendering shows the UTC wall clock.
        utc_ts = F.to_utc_timestamp(F.timestamp_seconds(secs), F.current_timezone())
        ts_date = F.when(ts_gate, F.date_format(utc_ts, "yyyy-MM-dd"))
        ts_datetime = F.when(
            ts_gate, F.concat(F.date_format(utc_ts, "yyyy-MM-dd HH:mm:ss"), F.lit(" UTC"))
        )
        # F8 also overrides std_date when it fires (assertions.rs:242-244)
        std_date = F.coalesce(ts_date, std_date)
    else:
        is_unix = F.lit(None).cast("string")
        ts_datetime = F.lit(None).cast("string")

    # F9 (disabled in the reference, assertions.rs:212-213; behind a flag)
    if include_latlon:
        num = raw.try_cast("double")
        lat = F.when(num_gate, num.between(-90.0, 90.0))
        lon = F.when(num_gate, num.between(-180.0, 180.0))
    else:
        lat = F.lit(None).cast("boolean")
        lon = F.lit(None).cast("boolean")

    return F.struct(
        string_length.alias("string_length"),
        is_numeric.alias("is_numeric"),
        lat.alias("poss_latitude"),
        lon.alias("poss_longitude"),
        std_date.alias("std_date"),
        is_dob.alias("is_sensible_dob"),
        is_uk_postcode.alias("is_uk_postcode"),
        poss_postal.alias("poss_postal_country"),
        iso3.alias("std_country_iso3"),
        region.alias("std_region_code"),
        is_unix.alias("is_unix_timestamp"),
        ts_datetime.alias("std_datetime"),
    )


def enhanced(
    df: DataFrame,
    columns: list[str] | None = None,
    include_latlon: bool = False,
) -> DataFrame:
    """R4: per-field enhanced struct ``{raw, HU, LU, Rules}`` (main.rs:196-223)."""
    cols = columns or df.columns
    out = []
    for c in cols:
        raw = F.col(c).cast("string")
        # invalid UTF-8 (a binary cast) reaches the mask kernels as U+FFFD
        valid = F.make_valid_utf8(raw)
        hu = mask_pandas_udf("HU")(valid)
        lu = mask_pandas_udf("LU")(valid)
        out.append(
            F.struct(
                raw.alias("raw"),
                hu.alias("HU"),
                lu.alias("LU"),
                rules_struct(c, raw, hu, lu, include_latlon).alias("Rules"),
            ).alias(c)
        )
    return df.select(out)


def enhanced_flat(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """R5: flattened variant with dotted keys ``field.HU`` … (main.rs:944-948)."""
    cols = columns or df.columns
    e = enhanced(df, cols)
    flat = []
    for c in cols:
        for leaf in ("raw", "HU", "LU"):
            flat.append(F.col(f"`{c}`.{leaf}").alias(f"{c}.{leaf}"))
        for rk in ("string_length", "is_numeric", "poss_latitude",
                   "poss_longitude", "std_date", "is_sensible_dob",
                   "is_uk_postcode", "poss_postal_country", "std_country_iso3",
                   "std_region_code", "is_unix_timestamp", "std_datetime"):
            flat.append(F.col(f"`{c}`.Rules.{rk}").alias(f"{c}.Rules.{rk}"))
    return e.select(flat)
