"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``nessus_client_etl_scripts_spark``; this module is the
thin declared surface.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from nessus_client_etl_scripts_spark.plans import corpus_queries as _cq  # noqa: F401 — registers q20+
from nessus_client_etl_scripts_spark.plans import relational_queries as _rq  # noqa: F401 — registers q42+
from nessus_client_etl_scripts_spark.plans import round6_queries as _r6  # noqa: F401 — registers q125+
from nessus_client_etl_scripts_spark.plans import round6b_queries as _r6b  # noqa: F401 — registers q132+
from nessus_client_etl_scripts_spark.plans import round6c_queries as _r6c  # noqa: F401 — registers q153
from nessus_client_etl_scripts_spark.plans import round6d_queries as _r6d  # noqa: F401 — registers q177+
from nessus_client_etl_scripts_spark.plans import round7_queries as _r7  # noqa: F401 — registers q201+
from nessus_client_etl_scripts_spark.plans import round8_queries as _r8  # noqa: F401 — registers q214+
from nessus_client_etl_scripts_spark.plans import round8b_queries as _r8b  # noqa: F401 — registers q273+
from nessus_client_etl_scripts_spark.plans import round10_queries as _r10  # noqa: F401 — registers q332+
from nessus_client_etl_scripts_spark.plans import round11_queries as _r11  # noqa: F401 — registers q334+
from nessus_client_etl_scripts_spark.plans import round12_queries as _r12  # noqa: F401 — registers q344+
from nessus_client_etl_scripts_spark.plans import streaming_queries as _sq  # noqa: F401 — registers q53
from nessus_client_etl_scripts_spark.plans import testdata_queries as _tq

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (get_folder_results analogue — SURVEY.md §3.3) on
    sf0.001: latest order per customer in one segment joined through the
    fact chain."""
    return _tq.spark_queries()["q01_folder_results_latest"](spark, SF0001)


# Round-13 driver-budget ordering (the driver checks ~50 queries in
# iteration order per round). _R13_HEAD is EXACTLY 50 prefixes:
# (a) 26 + (b) 5 + (c) 19 — the arithmetic is enforced by
# tests (a head longer than the driver budget silently drops its tail
# from the round's sample, the r12 ADVICE bug). Post-head, every
# remaining query is ordered by the round of its latest green driver
# row, oldest first (tools/evidence.py regenerates the cohorts), so
# any budget overflow refreshes the stalest evidence first; the 49
# r12-checked queries sit last (freshest evidence).
_R13_HEAD = (
    # (a) the 26 queries the r12 optimization pass touched (or whose
    # plans ride touched operators) that the r12 driver sample did NOT
    # verify — builder-local sweeps only; the r12 verdict's explicit
    # head-rotation directive, re-proved before anything merely stale
    ("q26", "q28", "q29", "q64", "q103", "q110", "q124", "q145", "q153",
     "q161", "q176", "q185", "q204", "q207", "q224", "q259", "q266",
     "q267", "q268", "q269", "q294", "q296", "q316", "q323", "q327",
     "q330",)
    # (b) the r13 changed-execution queries: the BPE family now trains
    # per call (the retired _BPE_MEMO/_Q215_MEMO result caches) and
    # q310 keeps its long melt key behind a loud integral-type
    # TypeError guard (a string union key measured slower)
    + ("q201", "q206", "q215", "q217", "q310",)
    # (c) staleness fill to exactly 50: the r4 leftover (q89-q95,
    # oldest evidence in the ledger) then the head of the r5 cohort
    + ("q89", "q90", "q91", "q94", "q95", "q12", "q13", "q14", "q15", "q16",
     "q17", "q18", "q19", "q20", "q21", "q22", "q23", "q24", "q25",)
)
_R13_STALE_ORDER = (
    # r5 cohort (23)
    ("q27", "q39", "q53", "q97", "q98", "q99", "q100", "q101", "q102",
     "q104", "q105", "q106", "q107", "q108", "q109", "q111", "q113",
     "q116", "q117", "q118", "q119", "q121", "q122",)
    # r6 cohort (33)
    + ("q120", "q125", "q126", "q128", "q129", "q130", "q131", "q134",
     "q136", "q137", "q138", "q139", "q140", "q141", "q142", "q143",
     "q144", "q146", "q147", "q150", "q151", "q152", "q154", "q156",
     "q157", "q158", "q159", "q160", "q162", "q163", "q166", "q170",
     "q172",)
    # r7 cohort (33)
    + ("q50", "q51", "q52", "q92", "q114", "q115", "q174", "q178", "q181",
     "q183", "q184", "q186", "q187", "q188", "q189", "q191", "q193",
     "q194", "q195", "q196", "q197", "q198", "q199", "q200", "q202",
     "q203", "q205", "q208", "q209", "q210", "q211", "q212", "q213",)
    # r8 cohort (38)
    + ("q177", "q179", "q182", "q214", "q216", "q218", "q223", "q225",
     "q229", "q230", "q231", "q232", "q233", "q234", "q235", "q236",
     "q237", "q238", "q273", "q274", "q276", "q277", "q278", "q279",
     "q280", "q281", "q282", "q283", "q284", "q285", "q286", "q287",
     "q288", "q289", "q292", "q293", "q295", "q297",)
    # r9 cohort (34)
    + ("q155", "q164", "q227", "q239", "q240", "q242", "q246", "q247",
     "q249", "q250", "q251", "q252", "q253", "q254", "q255", "q256",
     "q257", "q258", "q298", "q300", "q301", "q302", "q303", "q304",
     "q305", "q306", "q308", "q309", "q311", "q312", "q313", "q314",
     "q326", "q331",)
    # r10 cohort (41)
    + ("q30", "q31", "q32", "q33", "q34", "q35", "q36", "q37", "q38", "q40",
     "q42", "q43", "q44", "q45", "q46", "q47", "q48", "q49", "q54", "q56",
     "q58", "q260", "q261", "q262", "q263", "q264", "q270", "q271", "q272",
     "q317", "q318", "q319", "q320", "q321", "q322", "q324", "q325",
     "q328", "q329", "q332", "q333",)
    # r11 cohort (43)
    + ("q01", "q02", "q03", "q04", "q05", "q06", "q07", "q08", "q09", "q10",
     "q11", "q41", "q57", "q59", "q60", "q61", "q62", "q63", "q66", "q67",
     "q68", "q69", "q70", "q72", "q73", "q74", "q75", "q76", "q77", "q78",
     "q79", "q80", "q81", "q82", "q83", "q290", "q307", "q334", "q336",
     "q337", "q338", "q340", "q343",)
    # r12 cohort (49)
    + ("q55", "q65", "q71", "q84", "q85", "q86", "q87", "q88", "q93", "q96",
     "q112", "q123", "q127", "q132", "q133", "q135", "q148", "q149",
     "q165", "q167", "q168", "q169", "q171", "q173", "q175", "q180",
     "q190", "q192", "q219", "q220", "q221", "q241", "q244", "q248",
     "q265", "q275", "q291", "q299", "q315", "q335", "q339", "q341",
     "q342", "q344", "q345", "q346", "q347", "q348", "q349",)
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Insertion order == driver iteration order; see the ordering note
    above (_R13_HEAD, then staleness-ordered rotation)."""
    all_queries = dict(sorted(_tq.spark_queries().items()))

    def prefix(name: str) -> str:
        return name.split("_", 1)[0]

    by_prefix = {}
    for n in all_queries:
        by_prefix.setdefault(prefix(n), []).append(n)

    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for p in _R13_HEAD + _R13_STALE_ORDER:
        for n in by_prefix.get(p, ()):
            out.setdefault(n, all_queries[n])
    for n, f in all_queries.items():  # safety net for unlisted names
        out.setdefault(n, f)
    return out


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query; keys absent here are
    non-SQL-expressible ops checked rows-only by the driver."""
    return _tq.oracle_queries()
