"""Site/line configuration ingestion (S6 in SURVEY §2.1).

The reference fetches two SharePoint Graph lists (site config, line
config) as nested JSON, ``json_normalize``s them, keeps a fixed
column subset, and renames to its canonical names
(``App/rco_main.py:121-188``).  The Spark re-expression: the raw
payload lands as ONE nested row per list (`spark.read.json`), the
``value`` record path explodes to rows, structs flatten to dotted
columns, and a declared column map projects + renames — everything
else the list returns (Graph/SharePoint metadata: etags, ids,
LinkTitle, Edit, ...) is dropped by construction, exactly like the
reference's ``filter_col`` dict.

Config tables are broadcast-sized by contract (tens of rows per
deployment), so the frames this module returns are meant to sit on
the broadcast side of every join that consumes them
(operators/extract.with_derived_flags, plans/site_etl).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .json_flatten import explode_records, flatten_structs

#: The reference's site-list ``filter_col`` mapping, verbatim
#: (App/rco_main.py:147-156): dotted source column -> canonical name.
SITE_CONFIG_COLUMNS: dict[str, str] = {
    "fields.Title": "Server",
    "fields.CO_Trigger_Parameter": "CO_Trigger_Parameter",
    "fields.Run_Machine_Level_Analysis": "Run_Machine_Level_Analysis",
    "fields.Run_First_Stop_After_CO_Analysis": "Run_First_Stop_After_CO_Analysis",
    "fields.Run_Multi_Constraint_Analysis": "Run_Multi_Constraint_Analysis",
    "fields.Split_COs_based_on_Cause_Model": "Split_COs_based_on_Cause_Model",
    "fields.SUD_specific_RCO_script": "SUD_specific_RCO_script",
    "fields.SiteName": "MDC_Site_Name",
    "fields.changeover_query_single_line": "querySL",
    "fields.changeover_query_multi_line": "queryML",
}

#: The line-list mapping (App/rco_main.py:174-179).
LINE_CONFIG_COLUMNS: dict[str, str] = {
    "fields.Title": "MDC_Line_Name",
    "fields.Department": "Department",
    "fields.Constraint_Machine_String": "Constraint_Machine_String",
    "fields.SiteNameLookupId": "SiteNameLookupId",
    "fields.System": "System",
    "fields.Line_Configuration": "Line_Configuration",
}

#: Canonical-name -> Spark type for the non-string config columns
#: (schemas.SITE_CONFIG / LINE_CONFIG).  SharePoint renders numerics
#: inconsistently (number vs string JSON), so the cast is part of the
#: read, not left to the consumer.
_TYPED = {"CO_Trigger_Parameter": "double", "SiteNameLookupId": "int"}


def _project(
    raw: DataFrame, colmap: dict[str, str], item_id: bool
) -> DataFrame:
    """Explode the list's ``value`` record path, flatten the ``fields``
    struct, then project + rename + type exactly the declared columns
    (dropping every metadata column the list also returned)."""
    rows = flatten_structs(explode_records(raw, "value", keep_meta=[]))
    cols = []
    if item_id:
        # The Graph list item id: what every SharePoint *LookupId
        # column in ANOTHER list points at (line config's
        # SiteNameLookupId references the site list's item ids).
        cols.append(F.col("id").cast("int").alias("list_item_id"))
    for src, dst in colmap.items():
        c = F.col(f"`{src}`")
        if dst in _TYPED:
            c = c.cast(_TYPED[dst])
        cols.append(c.alias(dst))
    return rows.select(*cols)


def site_config_frame(raw: DataFrame, item_id: bool = False) -> DataFrame:
    """Site config list -> canonical frame (App/rco_main.py:135-163).
    ``item_id=True`` additionally keeps the Graph list item id as
    ``list_item_id`` — the key line config's SiteNameLookupId joins
    on."""
    return _project(raw, SITE_CONFIG_COLUMNS, item_id)


def line_config_frame(raw: DataFrame) -> DataFrame:
    """Line config list -> canonical frame (App/rco_main.py:165-188)."""
    return _project(raw, LINE_CONFIG_COLUMNS, item_id=False)
