"""Speaker-role classifier (P11): ordered substring rules.

Port of the reference classifier (rag_friendly_categorizer.py:145-162);
if/elif priority order preserved — including the substring nature of the
``md`` rule (it fires inside longer words, as in the reference).
"""

ROLE_RULES = [
    ("CEO", ("ceo", "chief executive")),
    ("CFO", ("cfo", "chief financial")),
    ("COO", ("coo", "chief operating")),
    ("MD", ("md", "managing director")),
    ("Moderator", ("moderator",)),
    ("Management", ("management",)),
]


def speaker_role(speaker_name: str) -> str:
    lower = speaker_name.lower()
    for role, needles in ROLE_RULES:
        if any(n in lower for n in needles):
            return role
    return "Analyst/Other"
