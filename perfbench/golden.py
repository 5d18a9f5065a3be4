"""The seven reference golden recipes and their expected CSV bytes.

Same recipes and outputs as the golden suite in tests/test_recipes_golden.py
(the reference's recipe files). The outputs do not depend on the fixture
seed: no recipe emits the JSON echo's seeded ``rand`` field.
"""

from __future__ import annotations

from sinew_spark.recipes import Recipe, Step

HTML = "http://httpbingo.org/html"
XML = "http://httpbingo.org/xml"


def golden_recipes() -> dict[str, tuple[Recipe, str]]:
    """name -> (recipe, expected CSV). Fresh objects per call."""
    return {
        "array_header": (
            Recipe(header=["n", "a", "p", "z"], steps=[Step(rows=[{"n": "n1", "a": "a1"}])]),
            "n,a,p,z\nn1,a1,,\n",
        ),
        "basic": (
            Recipe(
                steps=[
                    Step(
                        urls=[HTML],
                        iterate=("regex", "<h1>([^<]+)"),
                        columns={"h1": ("regex_group", 1)},
                    )
                ]
            ),
            "h1\nHerman Melville - Moby-Dick\n",
        ),
        "implicit_header": (
            Recipe(steps=[Step(rows=[{"name": "bob", "address": "main"}])]),
            "name,address\nbob,main\n",
        ),
        "limit": (
            Recipe(limit=3, steps=[Step(rows=[{"i": str(i)} for i in range(1, 6)])]),
            "i\n1\n2\n3\n",
        ),
        "noko": (
            Recipe(
                steps=[
                    Step(urls=[XML], iterate=("css", "slide title"), columns={"title": "text"})
                ]
            ),
            "title\nWake up to WonderWidgets!\nOverview\n",
        ),
        "url": (
            Recipe(
                steps=[
                    Step(urls=[HTML], iterate="rows", columns={"url": "final_url"}),
                    Step(url_join="/get", iterate="rows", columns={"url": "final_url"}),
                ]
            ),
            "url\nhttp://httpbingo.org/html\nhttp://httpbingo.org/get\n",
        ),
        "xml": (
            Recipe(steps=[Step(urls=[HTML], iterate=("css", "h1"), columns={"h1": "text"})]),
            "h1\nHerman Melville - Moby-Dick\n",
        ),
    }
