"""SPARQL templates for the ``build_serve`` workload, each paired with the
DuckDB SQL that evaluates the same query over the materialized triples.

The SQL side reads a view ``t`` over ``triples/`` and follows the
engine's documented semantics: triple patterns without GRAPH match every
graph, plain SELECT returns distinct solutions, and a variable compared
with a numeric literal is cast to double.
"""

from __future__ import annotations

import random

from gen import CITIES, EX, N_ORGS, ORG, PERSON, RDF_TYPE, SCHEMA

PREFIXES = (f"PREFIX schema: <{SCHEMA}> PREFIX ex: <{EX}> "
            f"PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> ")

NAME, AGE, SCORE = f"{SCHEMA}name", f"{SCHEMA}age", f"{EX}score"
LABEL, KNOWS, MEMBER = f"{EX}label", f"{SCHEMA}knows", f"{SCHEMA}member"
ADDRESS, LOCALITY = f"{SCHEMA}address", f"{SCHEMA}addressLocality"
PERSON_T = f"{SCHEMA}Person"


def point(rng: random.Random, n_docs: int) -> tuple[str, str]:
    s = f"{PERSON}{rng.randrange(n_docs)}"
    return (f"SELECT ?p ?o WHERE {{ <{s}> ?p ?o }}",
            f"SELECT DISTINCT pred, obj_value FROM t WHERE subj = '{s}'")


def star(rng: random.Random, n_docs: int) -> tuple[str, str]:
    org = f"{ORG}{rng.randrange(N_ORGS)}"
    return (PREFIXES + "SELECT ?s ?name ?age WHERE { "
            f"<{org}> schema:member ?s . "
            "?s a schema:Person ; schema:name ?name ; schema:age ?age }",
            f"""SELECT DISTINCT m.obj_value, n.obj_value, a.obj_value
                FROM t m JOIN t n ON n.subj = m.obj_value AND n.pred = '{NAME}'
                JOIN t a ON a.subj = m.obj_value AND a.pred = '{AGE}'
                JOIN t ty ON ty.subj = m.obj_value AND ty.pred = '{RDF_TYPE}'
                          AND ty.obj_value = '{PERSON_T}'
                WHERE m.subj = '{org}' AND m.pred = '{MEMBER}'""")


def optional_filter(rng: random.Random, n_docs: int) -> tuple[str, str]:
    city, age = rng.choice(CITIES), rng.randint(20, 70)
    return (PREFIXES + "SELECT ?s ?age ?sc WHERE { ?s schema:age ?age ; "
            f"schema:address ?ad . ?ad schema:addressLocality \"{city}\" "
            f"OPTIONAL {{ ?s ex:score ?sc }} FILTER(?age > {age}) }}",
            f"""SELECT DISTINCT a.subj, a.obj_value, sc.obj_value
                FROM t a
                JOIN t ad ON ad.subj = a.subj AND ad.pred = '{ADDRESS}'
                JOIN t c ON c.subj = ad.obj_value AND c.pred = '{LOCALITY}'
                         AND c.obj_value = '{city}'
                LEFT JOIN t sc ON sc.subj = a.subj AND sc.pred = '{SCORE}'
                WHERE a.pred = '{AGE}'
                  AND TRY_CAST(a.obj_value AS DOUBLE) > {age}""")


def group_by(rng: random.Random, n_docs: int) -> tuple[str, str]:
    city = rng.choice(CITIES)
    return (PREFIXES + "SELECT ?org (COUNT(?s) AS ?n) WHERE { "
            "?org schema:member ?s . ?s schema:address ?ad . "
            f"?ad schema:addressLocality \"{city}\" }} "
            "GROUP BY ?org",
            f"""SELECT org, count(*) FROM (
                  SELECT DISTINCT m.subj AS org, m.obj_value AS s, ad.obj_value
                  FROM t m JOIN t ad ON ad.subj = m.obj_value
                                    AND ad.pred = '{ADDRESS}'
                  JOIN t c ON c.subj = ad.obj_value AND c.pred = '{LOCALITY}'
                           AND c.obj_value = '{city}'
                  WHERE m.pred = '{MEMBER}') GROUP BY org""")


def not_exists(rng: random.Random, n_docs: int) -> tuple[str, str]:
    city = rng.choice(CITIES)
    return (PREFIXES + "SELECT ?s WHERE { "
            "?s a schema:Person ; schema:address ?ad . "
            f"?ad schema:addressLocality \"{city}\" "
            "FILTER NOT EXISTS { ?s schema:knows ?x } }",
            f"""SELECT DISTINCT ty.subj FROM t ty
                JOIN t ad ON ad.subj = ty.subj AND ad.pred = '{ADDRESS}'
                JOIN t c ON c.subj = ad.obj_value AND c.pred = '{LOCALITY}'
                         AND c.obj_value = '{city}'
                WHERE ty.pred = '{RDF_TYPE}' AND ty.obj_value = '{PERSON_T}'
                  AND NOT EXISTS (SELECT 1 FROM t k WHERE k.subj = ty.subj
                                  AND k.pred = '{KNOWS}')""")


def union(rng: random.Random, n_docs: int) -> tuple[str, str]:
    org = f"{ORG}{rng.randrange(N_ORGS)}"
    return (PREFIXES + f"SELECT ?s ?v WHERE {{ {{ <{org}> schema:member ?s . "
            f"?s schema:name ?v }} UNION {{ <{org}> schema:member ?s . "
            "?s ex:label ?v } }",
            f"""SELECT DISTINCT m.obj_value, v.obj_value FROM t m
                JOIN t v ON v.subj = m.obj_value
                        AND v.pred IN ('{NAME}', '{LABEL}')
                WHERE m.subj = '{org}' AND m.pred = '{MEMBER}'""")


def path(rng: random.Random, n_docs: int) -> tuple[str, str]:
    s = f"{PERSON}{rng.randrange(n_docs)}"
    return (PREFIXES
            + f"SELECT ?y WHERE {{ <{s}> schema:knows/schema:knows ?y }}",
            f"""SELECT DISTINCT b.obj_value FROM t a
                JOIN t b ON b.subj = a.obj_value AND b.pred = '{KNOWS}'
                WHERE a.subj = '{s}' AND a.pred = '{KNOWS}'""")


TEMPLATES = {"point": point, "star": star, "optional_filter": optional_filter,
             "group_by": group_by, "not_exists": not_exists, "union": union,
             "path": path}
