"""X3 RAG search + REPL tests."""

import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from pdf_extraction_spark.plans.rag import parse_repl_line, rag_context, rag_search


class TestParseReplLine:
    def test_commands(self):
        assert parse_repl_line("quit") == ("quit", "", None)
        assert parse_repl_line("  EXIT ") == ("quit", "", None)
        assert parse_repl_line("sources") == ("sources", "", None)
        assert parse_repl_line("   ") == ("empty", "", None)

    def test_question_and_filter(self):
        a, q, c = parse_repl_line("What about margins? company:CIPLA")
        assert a == "ask" and q == "What about margins?" and c == "CIPLA"
        a, q, c = parse_repl_line("plain question")
        assert (a, q, c) == ("ask", "plain question", None)

    def test_reference_marker_quirks(self):
        """Parity with simple_rag.py:332-336: everything after the marker
        is the filter; mid-line trailing text is NOT silently dropped
        from the question — it belongs to the filter (reference rule);
        case-sensitive split; double marker → untouched."""
        a, q, c = parse_repl_line("revenue company:CIPLA guidance")
        assert (a, q, c) == ("ask", "revenue", "CIPLA guidance")
        # uppercase marker passes the lowercase check but fails the
        # case-sensitive split — line left untouched (reference quirk)
        a, q, c = parse_repl_line("revenue COMPANY:CIPLA")
        assert (a, q, c) == ("ask", "revenue COMPANY:CIPLA", None)
        # marker twice → len(parts) != 2 → untouched
        a, q, c = parse_repl_line("company:A vs company:B")
        assert (a, q, c) == ("ask", "company:A vs company:B", None)
        # empty filter normalizes to None
        a, q, c = parse_repl_line("question company:")
        assert (a, q, c) == ("ask", "question", None)

    def test_format_search_results_golden(self):
        """Pin the human-visible sources listing to the reference's
        format_search_results shape (simple_rag.py:160-203)."""
        from pdf_extraction_spark.plans.rag import format_search_results

        assert format_search_results([]) == "No relevant documents found."
        results = [
            {
                "company": "CIPLA",
                "similarity": 0.91234,
                "weighted_score": 0.84567,
                "days_ago": 12,
                "content": "Revenue grew 12% this quarter.",
                "metadata": {
                    "executive_name": "A. Sharma",
                    "executive_role": "CFO",
                    "category": "Financial Performance",
                    "date": "2024-05-10T00:00:00",
                    "quarter": "Q4",
                    "fiscal_year": "FY24",
                },
            },
            {
                "company": "LUPIN",
                "similarity": 0.5,
                "weighted_score": 0.4,
                "days_ago": 800,
                "content": "x" * 250,
                "metadata": {"speaker": "Moderator"},
            },
        ]
        out = format_search_results(results)
        assert (
            "🏢 Result 1 - CIPLA (Score: 0.846, Similarity: 0.912)" in out
        )
        assert "👤 A. Sharma (CFO)" in out
        assert "📂 Category: Financial Performance" in out
        assert "📅 🟢 Recent 2024-05-10 Q4 FY24 (12 days ago)" in out
        assert "🏢 Result 2 - LUPIN (Score: 0.400, Similarity: 0.500)" in out
        assert "👤 Moderator (Unknown Role)" in out  # speaker fallback
        assert "🔴 Older" in out  # 800 days → oldest bucket
        assert "x" * 200 + "..." in out  # 200-char truncation
        assert "x" * 201 not in out
        assert out.count("-" * 80) == 2


class TestGenerateAnswer:
    RESULTS = [
        {
            "company": "CIPLA",
            "similarity": 0.9,
            "weighted_score": 0.8,
            "days_ago": 10,
            "content": "Revenue grew 12 percent. Margins were stable this quarter.",
            "metadata": {
                "executive_name": "A. Sharma",
                "executive_role": "CFO",
                "category": "Financial Performance",
                "date": "2024-05-10T00:00:00",
                "quarter": "Q4",
            },
        },
        {
            "company": "LUPIN",
            "similarity": 0.6,
            "weighted_score": 0.5,
            "days_ago": 40,
            "content": "Guidance for revenue is unchanged. We invested in capacity.",
            "metadata": {"speaker": "Moderator"},
        },
    ]

    def test_prompt_golden(self):
        """Byte-parity with the reference's prompt assembly
        (simple_rag.py:205-246)."""
        from pdf_extraction_spark.plans.rag import build_answer_prompt

        p = build_answer_prompt("What was revenue growth?", self.RESULTS)
        assert p.startswith(
            "You are an expert financial analyst reviewing earnings call "
            "transcripts. Based on the provided context from executive "
            "statements, answer the user's question comprehensively."
        )
        assert "User Question: What was revenue growth?" in p
        assert "\nSource 1: CIPLA - A. Sharma (CFO)\n" in p
        assert "Category: Financial Performance | Date: 2024-05-10 Q4\n" in p
        assert "Content: Revenue grew 12 percent. Margins were stable this quarter.\n---" in p
        # speaker-only metadata falls back to Unknown like the reference
        assert "\nSource 2: LUPIN - Unknown (Unknown)\n" in p
        assert "Category: Unknown | Date:  \n" in p
        assert p.rstrip().endswith("Answer:")
        assert "6. Keep the answer professional and analytical" in p

    def test_comprehensive_prompt_golden(self):
        """Byte-parity with the complete-RAG path's prompt assembly
        (complete_rag.py:203-309): same Source blocks under the
        'Recent Earnings Call Context' heading, the eight-section
        analysis framework, response structure, critical requirements,
        and the senior-business-analyst system message."""
        from pdf_extraction_spark.plans.rag import (
            _COMPREHENSIVE_SYSTEM_PROMPT,
            build_answer_prompt,
        )

        p = build_answer_prompt(
            "What was revenue growth?", self.RESULTS, style="comprehensive"
        )
        assert p.startswith(
            "You are a senior business analyst with 15+ years of experience "
            "analyzing public companies across industries. Based on the "
            "provided earnings call transcripts, deliver a comprehensive "
            "business intelligence report."
        )
        assert "User Question: What was revenue growth?" in p
        assert "Recent Earnings Call Context:\n" in p
        # context block shape is shared with the simple path
        assert "\nSource 1: CIPLA - A. Sharma (CFO)\n" in p
        assert "Category: Financial Performance | Date: 2024-05-10 Q4\n" in p
        assert "\nSource 2: LUPIN - Unknown (Unknown)\n" in p
        # the eight framework sections, in order
        sections = [
            "\U0001F4CA FINANCIAL HEALTH & TRENDS:",
            "\U0001F3ED OPERATIONAL PERFORMANCE:",
            "\U0001F3AF PRODUCT/SERVICE PORTFOLIO:",
            "\U0001F30D MARKET POSITIONING & EXPANSION:",
            "⚖️ REGULATORY & COMPLIANCE:",
            "\U0001F4BC MANAGEMENT STRATEGY & EXECUTION:",
            "⚠️ RISK ASSESSMENT:",
            "\U0001F52E FORWARD-LOOKING INSIGHTS:",
        ]
        idx = [p.index(s) for s in sections]
        assert idx == sorted(idx)
        assert "RESPONSE STRUCTURE:\n1. **Executive Summary** (2-3 key takeaways)" in p
        assert (
            "- Maintain objectivity while highlighting management confidence/concerns"
            in p
        )
        assert p.rstrip().endswith("Answer:")
        assert _COMPREHENSIVE_SYSTEM_PROMPT.startswith(
            "You are a senior business analyst expert in earnings call analysis."
        )

    def test_comprehensive_style_reaches_llm_hook(self):
        from pdf_extraction_spark.plans.rag import (
            _COMPREHENSIVE_SYSTEM_PROMPT,
            generate_answer,
        )

        seen = {}

        def llm(system, prompt):
            seen["system"], seen["prompt"] = system, prompt
            return "ok"

        out = generate_answer("q?", self.RESULTS, llm=llm, style="comprehensive")
        assert out == "ok"
        assert seen["system"] == _COMPREHENSIVE_SYSTEM_PROMPT
        assert "COMPREHENSIVE ANALYSIS FRAMEWORK:" in seen["prompt"]

    def test_empty_results_message_parity(self):
        from pdf_extraction_spark.plans.rag import generate_answer

        assert (
            generate_answer("anything", [])
            == "I couldn't find relevant information to answer your question."
        )

    def test_llm_hook_and_error_shape(self):
        from pdf_extraction_spark.plans.rag import (
            _ANSWER_SYSTEM_PROMPT,
            generate_answer,
        )

        seen = {}

        def fake_llm(system, prompt):
            seen["system"], seen["prompt"] = system, prompt
            return "the llm answer"

        assert generate_answer("q?", self.RESULTS, llm=fake_llm) == "the llm answer"
        assert seen["system"] == _ANSWER_SYSTEM_PROMPT
        assert "User Question: q?" in seen["prompt"]

        def broken_llm(system, prompt):
            raise RuntimeError("rate limited")

        # reference error-string shape (simple_rag.py:261-262)
        assert (
            generate_answer("q?", self.RESULTS, llm=broken_llm)
            == "Error generating response: rate limited"
        )

    def test_extractive_fallback_deterministic_and_cited(self):
        from pdf_extraction_spark.plans.rag import generate_answer

        a1 = generate_answer("what is the revenue guidance?", self.RESULTS)
        a2 = generate_answer("what is the revenue guidance?", self.RESULTS)
        assert a1 == a2
        assert a1.startswith("Based on the retrieved statements:")
        # the highest-overlap sentence ranks first, with its citation
        assert "Guidance for revenue is unchanged. (Moderator, LUPIN)" in a1
        assert "(A. Sharma, CIPLA)" in a1


@pytest.fixture()
def chunks(spark):
    from pdf_extraction_spark.operators.embed import embed_documents

    rows = [
        (1, "CIPLA", "2025-03-01", "Rahul Sharma",
         "revenue growth of 12 percent this quarter with strong margins", 8.0),
        (2, "CIPLA", "2020-01-01", "Priya Patel",
         "capex investment in the new facility is on track", 6.0),
        (3, "LUPIN", "2025-02-01", "Ken Tanaka",
         "margin trajectory and guidance for the fiscal year improved", 7.5),
        (4, "LUPIN", "2025-02-01", "Ken Tanaka", "thank you and goodbye", 4.0),
    ]
    df = spark.createDataFrame(
        rows, "chunk_id long, company string, date string, speaker string, content string, quality_score double"
    )
    return embed_documents(df, text_col="content", quality_col="missing")


class TestRagSearch:
    def test_topk_and_filter(self, chunks):
        top = rag_search(chunks, "revenue growth margins", k=2).collect()
        assert len(top) == 2
        assert all("weighted_score" in r.asDict() for r in top)
        # company filter restricts the candidate pool
        lupin = rag_search(chunks, "margin guidance", k=5, company_filter="lupin").collect()
        assert {r["company"] for r in lupin} == {"LUPIN"}

    def test_company_filter_is_a_literal(self, spark):
        """The company filter is rendered into SQL text: quotes and
        backslashes in it must match themselves, not end the literal."""
        from pdf_extraction_spark.operators.embed import embed_documents

        names = ["DR. REDDY'S", "A\\B", "A'B", "CIPLA"]
        df = spark.createDataFrame(
            [(i, c, "2025-03-01", "s", f"revenue growth {i}", 8.0) for i, c in enumerate(names)],
            "chunk_id long, company string, date string, speaker string, content string, quality_score double",
        )
        chunks = embed_documents(df, text_col="content", quality_col="missing")
        for name in names[:3]:
            got = rag_search(chunks, "revenue growth", k=5, company_filter=name.lower()).collect()
            assert [r["company"] for r in got] == [name]

    def test_recency_beats_stale(self, chunks):
        # identical question; the 2025 docs carry recency weight 1.0 vs
        # 0.4 for the 2020 one — it should not win the top slot
        top1 = rag_search(chunks, "capex investment facility", k=4, as_of="2025-05-01").collect()
        assert top1[0]["chunk_id"] != 2 or top1[0]["similarity"] > top1[1]["similarity"] + 0.1

    def test_context_assembly(self, chunks):
        top = rag_search(chunks, "revenue growth", k=2)
        ctx = rag_context(top)
        assert ctx.count("\n\n---\n\n") == 1  # two chunks, one separator


def test_repl_end_to_end():
    """Drive scripts/rag_repl.py over a pipe: ask, toggle sources, quit."""
    stdin = "sources\nrevenue growth company:CIPLA\nquit\n"
    out = subprocess.run(
        [sys.executable, "scripts/rag_repl.py", "--pages", "40"],
        input=stdin, capture_output=True, text=True, timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "RAG search ready" in out.stdout
    assert "relevant chunks" in out.stdout
    assert "📚 DETAILED SOURCES:" in out.stdout
    listing = out.stdout.split("📚 DETAILED SOURCES:")[1]
    assert "CIPLA" in listing
    assert "🏢 Result 1 - " in listing  # reference display shape
    assert "bye" in out.stdout
