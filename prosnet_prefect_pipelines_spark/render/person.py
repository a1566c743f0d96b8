"""R1 render_person: APIS person JSON entity -> CIDOC-CRM proxy triples.

Faithful Spark re-expression of pfp-prefect-pipelines/
get_data_apis_vanilla.py:513-674, including its quirks:

- the person rdfs:label is an f-string — a NULL first_name/name renders
  literally as ``None`` (``f"{person['first_name']} {person['name']}"``,
  :532)
- the birth-event label carries NO language tag while the death-event
  label is @de (:592 vs :613)
- profession nodes get ``rdfs:subClassOf bioc:Occupation`` in both the
  parent and no-parent branches (:625-630) — effectively unconditional
- the bio text link requires len(text) > 1 (:637)
- duplicate triples collapse (rdflib set semantics) -> final distinct()

Namespace URIs are carried as compact prefixed names ("crm:E21_Person");
sinks expand them via render.namespaces.PREFIXES (R11).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.functions import scalar
from prosnet_prefect_pipelines_spark.render.templates import (
    Template,
    explode_prepared,
    node,
    prepare_templates,
)
from prosnet_prefect_pipelines_spark.session import memo

APIS_BASE = "https://apis.acdh.oeaw.ac.at"


def _fstr(c: Column) -> Column:
    """Python f-string null rendering: None -> 'None' (quirk, :532)."""
    return F.coalesce(c.cast("string"), F.lit("None"))


def _person_exprs() -> dict:
    """Build the static expression trees for render_person once.

    Returns {withcols, scalar_prep, prof_prep, same_prep, prof_sel,
    same_sel}; everything is an unresolved Column tree over
    APIS_PERSON_SCHEMA field names.
    """
    pid = F.col("id")
    withcols = {
        "_pers": node("idmapis:personproxy.", pid),
        "_app": node("idmapis:appellation.label.", pid),
        "_app_first": node("idmapis:appellation.first_name.", pid),
        "_app_last": node("idmapis:appellation.last_name.", pid),
        "_full_name": F.concat(_fstr(F.col("first_name")), F.lit(" "), _fstr(F.col("name"))),
        "_birth_ev": node("idmapis:birthevent.", pid),
        "_death_ev": node("idmapis:deathevent.", pid),
        "_born_role": node("idmapis:born_person.", pid),
        "_dec_role": node("idmapis:deceased_person.", pid),
        "_birth_span": node("idmapis:birth.timespan.", pid),
        "_death_span": node("idmapis:death.timespan.", pid),
        "_bio": node("idmapis:text.", pid, ".bio"),
    }
    pers = F.col("_pers")
    app = F.col("_app")
    app_first = F.col("_app_first")
    app_last = F.col("_app_last")
    name, first = F.col("name"), F.col("first_name")
    full_name = F.col("_full_name")

    E33 = "crm:E33_E41_Linguistic_Appellation"
    ts = []

    ts += [
        Template(pers, "rdf:type", F.lit("crm:E21_Person")),
        Template(pers, "rdf:type", F.lit("idmcore:Person_Proxy")),
        Template(pers, "rdfs:label", full_name, lang="de"),
        Template(pers, "owl:sameAs", node(f"{APIS_BASE}/entity/", pid)),
        Template(app, "rdf:type", F.lit(E33)),
        Template(app, "rdfs:label", scalar.name_appellation(name, first), lang="de"),
        Template(pers, "crm:P1_is_identified_by", app),
    ]
    # component appellations (:553-577)
    has_first, has_name = first.isNotNull(), name.isNotNull()
    ts += [
        Template(app_first, "rdf:type", F.lit(E33), cond=has_first),
        Template(app_first, "rdfs:label", first, lang="de", cond=has_first),
        Template(app, "crm:P148_has_component", app_first, cond=has_first),
        Template(app_last, "rdf:type", F.lit(E33), cond=has_name),
        Template(app_last, "rdfs:label", name, lang="de", cond=has_name),
        Template(app, "crm:P148_has_component", app_last, cond=has_name),
    ]

    # birth / death events with time-spans (:578-618; F11 :32-112)
    for kind, event_label, event_type, link_pred, role_name, ev_prefix in [
        ("start", "Birth of ", "crm:E67_Birth", "crm:P98_brought_into_life", "born_person", "birthevent."),
        ("end", "Death of ", "crm:E69_Death", "crm:P100_was_death_of", "deceased_person", "deathevent."),
    ]:
        cond = F.col(f"{kind}_date").isNotNull()
        ev = F.col("_birth_ev") if kind == "start" else F.col("_death_ev")
        role = F.col("_born_role") if kind == "start" else F.col("_dec_role")
        role_cls = F.lit(f"idmrole:{role_name}")
        span = F.col("_birth_span") if kind == "start" else F.col("_death_span")
        ts += [
            Template(role, "bioc:inheres_in", pers, cond=cond),
            Template(role, "rdf:type", role_cls, cond=cond),
            Template(role_cls, "rdfs:subClassOf", F.lit("bioc:Event_Role"), cond=cond),
            Template(ev, "bioc:had_participant_in_role", role, cond=cond),
            Template(ev, "rdf:type", F.lit(event_type), cond=cond),
            # quirk: birth label untagged, death label @de (:592 vs :613)
            Template(ev, "rdfs:label", F.concat(F.lit(event_label), full_name),
                     lang=None if kind == "start" else "de", cond=cond),
            Template(ev, "crm:P4_has_time-span", span, cond=cond),
            Template(ev, link_pred, pers, cond=cond),
            Template(span, "rdf:type", F.lit("crm:E52_Time-Span"), cond=cond),
        ]
        bounds = scalar.time_span_bounds(
            kind, F.col(f"{kind}_date_written"), F.col(f"{kind}_date")
        )
        for pred, literal in bounds.items():
            ts.append(Template(span, pred, literal, cond=cond & literal.isNotNull()))
        if kind == "start":
            label = scalar.time_span_label(F.col("start_date_written"), F.col("end_date_written"))
            ts.append(Template(span, "rdfs:label", label, cond=cond & label.isNotNull()))

    # gender (:631-633) — None/empty guarded, str.capitalize
    gender_ok = F.col("gender").isNotNull() & (F.length("gender") > 0)
    ts.append(
        Template(pers, "bioc:has_gender",
                 F.concat(F.lit("bioc:"), scalar.gender_capitalize(F.col("gender"))),
                 cond=gender_ok)
    )

    # bio text links (:634-656) — only when more than one text
    has_bio = F.size(F.coalesce(F.col("text"), F.array())) > 1
    bio = F.col("_bio")
    ts += [
        Template(pers, "idmcore:bio_link", bio, cond=has_bio),
        Template(bio, "idmcore:full_bio_link", F.col("text").getItem(0).getField("url"), cond=has_bio),
        Template(bio, "idmcore:short_bio_link", F.col("text").getItem(1).getField("url"), cond=has_bio),
    ]

    # professions (:619-630) — list explode
    prof_node = node("idmapis:occupation.", F.col("pr.id"))
    prof_ts = [
        Template(F.col("pers"), "bioc:has_occupation", prof_node),
        Template(prof_node, "rdfs:label", F.col("pr.label"), lang="de"),
        Template(prof_node, "rdfs:subClassOf",
                 node("idmapis:occupation.", F.col("pr.parent_id")),
                 cond=F.col("pr.parent_id").isNotNull()),
        Template(prof_node, "rdfs:subClassOf", F.lit("bioc:Occupation")),
    ]

    # sameAs list (:634-635)
    same_ts = [Template(F.col("pers"), "owl:sameAs", F.col("uri"))]

    return {
        "withcols": withcols,
        "scalar_prep": prepare_templates(ts),
        "prof_prep": prepare_templates(prof_ts),
        "same_prep": prepare_templates(same_ts),
        "prof_sel": [F.col("_pers").alias("pers"), F.explode("profession").alias("pr")],
        "same_sel": [F.col("_pers").alias("pers"), F.explode("sameAs").alias("uri")],
    }


def render_person(persons: DataFrame) -> DataFrame:
    """persons: model.APIS_PERSON_SCHEMA columns -> triples (s,p,o,o_lang).

    One narrow pass for scalar templates + two explodes for the
    profession/sameAs list fields, unioned, then distinct.
    """
    # The static template expression trees are memoized per session
    # (opt r11): the ~45 conditional-struct Columns reference only field
    # names, but building them costs thousands of py4j round trips —
    # measured 1.6 s of driver time per call at sf0.1 against 1.1 s of
    # execution. reset_memo_fixtures clears them, so bench cold passes
    # still pay (and measure) full construction.
    exprs = memo(persons.sparkSession, ("render.person_exprs",), _person_exprs)
    # Precompute every node URI / shared label ONCE in an explicit
    # projection: templates then reference plain columns. Without this the
    # concat chains repeat inside ~45 conditional structs and the
    # whole-stage-codegen method blows past the JIT huge-method limit
    # (observed: 10-90s erratic runtimes at sf0.01; ~1s after).
    persons = persons.withColumns(exprs["withcols"]).localCheckpoint(eager=False)

    scalar_triples = explode_prepared(persons, exprs["scalar_prep"])
    prof_triples = explode_prepared(persons.select(*exprs["prof_sel"]), exprs["prof_prep"])
    same_triples = explode_prepared(persons.select(*exprs["same_sel"]), exprs["same_prep"])

    return scalar_triples.unionByName(prof_triples).unionByName(same_triples).distinct()


def materialize_inverses(triples: DataFrame) -> DataFrame:
    """R12: for every (s, bioc:inheres_in, o) add (o, bioc:bearer_of, s).

    Reference: serialize-time inverse materialization,
    get_data_apis_vanilla.py:1064-1065.
    """
    inv = (
        triples.filter(F.col("p") == "bioc:inheres_in")
        .select(
            F.col("o").alias("s"), F.lit("bioc:bearer_of").alias("p"),
            F.col("s").alias("o"), F.lit(None).cast("string").alias("o_lang"),
        )
    )
    return triples.unionByName(inv)
