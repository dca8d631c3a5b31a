"""X3: interactive RAG search over the embedded-chunks table.

The reference's chat loop (simple_rag.py:282-365) embeds the question,
scores every stored chunk by cosine, reranks by the weighted
0.7·sim + 0.2·recency + 0.1·quality score, and feeds the top-k into an
LLM. The engine-side pieces — question embedding, similarity, rerank,
company filter, context assembly — are all here on Spark operators; the
LLM call itself is presentation-layer (SURVEY.md §2.10 non-goal): the
REPL prints the assembled context and source listing instead.

The chunks table is any frame with (content, embedding, quality_score,
date[, company, speaker]) — plans.pipeline + operators.embed produce it.

A question is built on the driver, where every Py4J call costs time.
The similarity is ``operators.topk.query_cosine`` (the one builder of a
cosine against a literal query vector: one SQL expression, its query
norm folded on the driver exactly as the engine folds it) and the rerank
score is one SQL expression, so a question costs a few dozen calls
whatever the embedding's dimension. The company filter is SQL text too,
with the name escaped as a string literal.
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.embed import embed_text
from ..operators.topk import assemble_context, query_cosine, rerank_topk, spark_sql_string


def rag_search(
    chunks: DataFrame,
    question: str,
    k: int = 5,
    company_filter: str | None = None,
    as_of: str = "2025-05-01",
    id_cols=("chunk_id",),
) -> DataFrame:
    """question → top-k reranked chunks (the reference
    search_documents + weighted rerank, company filter included)."""
    scored = chunks.filter("embedding IS NOT NULL")
    if company_filter and "company" in chunks.columns:
        scored = scored.filter(f"upper(company) = {spark_sql_string(company_filter.upper())}")
    scored = scored.withColumn(
        "similarity", F.round(query_cosine("embedding", embed_text(question)), 6)
    )
    return rerank_topk(scored, as_of, k=k, id_cols=id_cols)


def rag_context(topk: DataFrame, content_col: str = "content") -> str:
    """Top-k → ONE prompt-context string (X2 assembly), driver-side."""
    row = assemble_context(topk, content_col=content_col, id_cols=()).first()
    return row["context"] if row and row["n_contexts"] else ""


def parse_repl_line(line: str):
    """Reference command grammar (simple_rag.py:318-336): 'quit'/'exit'/
    'q' → quit; 'sources' → toggle; 'company:' marker → filter. Returns
    (action, question, company_filter).

    Marker parity quirks mirrored exactly: the presence check is
    lowercase but the split is case-sensitive ('COMPANY:X' passes the
    check, fails the split, and the line is left untouched); the filter
    only applies when the marker occurs exactly once; and EVERYTHING
    after the marker — not just the first token — is the filter."""
    line = line.strip()
    if line.lower() in ("quit", "exit", "q"):
        return ("quit", "", None)
    if line.lower() == "sources":
        return ("sources", "", None)
    if not line:
        return ("empty", "", None)
    company = None
    if "company:" in line.lower():
        parts = line.split("company:")
        if len(parts) == 2:
            company = parts[1].strip() or None
            line = parts[0].strip()
    return ("ask", line, company)


def rows_to_results(rows, as_of: str = "2025-05-01"):
    """Collected top-k Rows → the result-dict shape the reference's
    display/answer helpers consume (company, similarity, weighted_score,
    days_ago, content, metadata)."""
    from datetime import date as _date

    as_of_d = _date.fromisoformat(as_of)
    results = []
    for r in rows:
        try:
            days = (as_of_d - _date.fromisoformat(str(r["date"])[:10])).days
        except (ValueError, TypeError):
            days = 10**6
        results.append(
            {
                "company": r["company"],
                "similarity": r["similarity"],
                "weighted_score": r["weighted_score"],
                "days_ago": days,
                "content": r["content"],
                "metadata": {"speaker": r["speaker"], "date": str(r["date"])},
            }
        )
    return results


_ANSWER_SYSTEM_PROMPT = (
    "You are a financial analyst expert in earnings call analysis. "
    "Provide detailed, accurate responses based on the provided earnings "
    "call transcripts."
)

# the "complete" path's system message (complete_rag.py:292-294)
_COMPREHENSIVE_SYSTEM_PROMPT = (
    "You are a senior business analyst expert in earnings call analysis. "
    "Provide detailed, accurate, and well-structured responses based on "
    "the provided earnings call transcripts."
)


def _context_block(search_results) -> str:
    """Numbered Source blocks from the top-5 results — the context
    assembly both reference scripts share (simple_rag.py:209-223,
    complete_rag.py:209-225: identical f-string shape)."""
    context_parts = []
    for i, result in enumerate(search_results[:5], 1):
        metadata = result.get("metadata") or {}
        context_parts.append(
            f"""
Source {i}: {result['company']} - {metadata.get('executive_name', 'Unknown')} ({metadata.get('executive_role', 'Unknown')})
Category: {metadata.get('category', 'Unknown')} | Date: {(metadata.get('date') or '')[:10]} {metadata.get('quarter', '')}
Content: {result['content']}
---"""
        )
    return "\n".join(context_parts)


def build_answer_prompt(question: str, search_results, style: str = "simple") -> str:
    """Byte-parity with the reference's prompt assembly. The prompt text
    IS the spec — a pluggable LLM client must see the same bytes the
    reference sends.

    ``style="simple"``: numbered Source blocks + the analyst-instructions
    template (simple_rag.py:205-246).
    ``style="comprehensive"``: the complete-RAG business-intelligence
    report template (complete_rag.py:227-287) — same Source blocks under
    a "Recent Earnings Call Context" heading, then the eight-section
    analysis framework, response structure, and critical requirements."""
    context = _context_block(search_results)
    if style == "comprehensive":
        return f"""You are a senior business analyst with 15+ years of experience analyzing public companies across industries. Based on the provided earnings call transcripts, deliver a comprehensive business intelligence report.

User Question: {question}

Recent Earnings Call Context:
{context}

COMPREHENSIVE ANALYSIS FRAMEWORK:

\U0001F4CA FINANCIAL HEALTH & TRENDS:
- Revenue growth patterns, margin trajectories, profitability trends
- Quarter-over-quarter and year-over-year performance analysis
- Cash flow generation, debt levels, return metrics

\U0001F3ED OPERATIONAL PERFORMANCE:
- Business capacity utilization, operational efficiency
- Supply chain resilience, inventory management
- Cost optimization initiatives, productivity improvements

\U0001F3AF PRODUCT/SERVICE PORTFOLIO:
- New product/service launches and market reception
- Innovation pipeline and development progress
- Portfolio mix and performance by segment

\U0001F30D MARKET POSITIONING & EXPANSION:
- Geographic revenue mix and market presence
- Market share evolution, competitive positioning
- Pricing dynamics and market trends

⚖️ REGULATORY & COMPLIANCE:
- Regulatory environment and compliance status
- Industry-specific approvals and certifications
- Quality initiatives and governance

\U0001F4BC MANAGEMENT STRATEGY & EXECUTION:
- Strategic priorities and execution progress
- Capital allocation decisions, M&A activities
- Leadership stability and organizational changes

⚠️ RISK ASSESSMENT:
- Industry risks, competitive threats
- Economic impacts, operational vulnerabilities
- Market pressures and business challenges

\U0001F52E FORWARD-LOOKING INSIGHTS:
- Management guidance and confidence levels
- Growth drivers and investment priorities
- Market outlook and strategic positioning

RESPONSE STRUCTURE:
1. **Executive Summary** (2-3 key takeaways)
2. **Detailed Analysis** (organize by relevant categories above)
3. **Latest Trends** (highlight most recent developments)
4. **Management Stability** (leadership confidence, strategic consistency)
5. **Comparative Context** (if multiple companies, clear comparisons)
6. **Source Attribution** (cite specific executives and dates)

CRITICAL REQUIREMENTS:
- Prioritize recent information (highlight latest quarters)
- Distinguish between management statements vs analyst questions
- Flag any concerning trends or positive momentum
- Use specific numbers, percentages, and metrics when available
- Maintain objectivity while highlighting management confidence/concerns

Answer:"""
    return f"""You are an expert financial analyst reviewing earnings call transcripts. Based on the provided context from executive statements, answer the user's question comprehensively.

User Question: {question}

Context from Earnings Calls:
{context}

Instructions:
1. Provide a comprehensive answer based on the context
2. Mention specific executives and their companies when relevant
3. Include key financial metrics, dates, and trends when available
4. If comparing companies, be specific about differences
5. Cite which executive made which statement
6. Keep the answer professional and analytical

Answer:"""


def _extractive_answer(question: str, search_results, k_sentences: int = 3) -> str:
    """Deterministic offline answer: sentences from the top contexts
    ranked by question-token overlap (ties broken by source order), each
    cited to its speaker/company. NOT an LLM — the sandbox has no
    network; plug a real client via generate_answer(llm=...)."""
    import re

    q_tokens = set(re.findall(r"[a-z0-9]+", question.lower()))
    scored = []
    for si, result in enumerate(search_results[:5]):
        metadata = result.get("metadata") or {}
        who = metadata.get("executive_name", metadata.get("speaker", "Unknown"))
        for sj, sent in enumerate(re.split(r"(?<=[.!?])\s+", result["content"])):
            sent = sent.strip()
            if not sent:
                continue
            toks = set(re.findall(r"[a-z0-9]+", sent.lower()))
            overlap = len(q_tokens & toks)
            scored.append((-overlap, si, sj, sent, who, result["company"]))
    scored.sort()
    lines = [
        f"- {sent} ({who}, {company})"
        for _neg, _si, _sj, sent, who, company in scored[:k_sentences]
    ]
    return "Based on the retrieved statements:\n" + "\n".join(lines)


def generate_answer(question: str, search_results, llm=None, style: str = "simple") -> str:
    """The reference's answer step (simple_rag.py:205-262 for
    ``style="simple"``, complete_rag.py:203-309 for
    ``style="comprehensive"``) with the OpenAI call factored into a
    pluggable ``llm(system, prompt) -> str`` hook (network is a
    presentation-layer concern, SURVEY §2.10). With no client, a
    deterministic extractive summary stands in. Empty results and the
    error-string shape mirror the reference exactly."""
    if not search_results:
        return "I couldn't find relevant information to answer your question."
    if llm is not None:
        system = (
            _COMPREHENSIVE_SYSTEM_PROMPT
            if style == "comprehensive"
            else _ANSWER_SYSTEM_PROMPT
        )
        try:
            return llm(system, build_answer_prompt(question, search_results, style=style))
        except Exception as e:
            return f"Error generating response: {str(e)}"
    return _extractive_answer(question, search_results)


def format_search_results(results) -> str:
    """Human-visible sources listing, shape-parity with the reference's
    format_search_results (simple_rag.py:160-203): per-result header with
    weighted score + similarity, executive/role, category, a days-ago
    time-context ladder (<30 Recent, <365 This Year, <730 Last Year,
    else Older), date[:10] + quarter + fiscal year, content truncated at
    200 chars, 80-dash separators. ``results`` is a list of dicts with
    (company, similarity, weighted_score, days_ago, content, metadata)."""
    if not results:
        return "No relevant documents found."

    formatted = []
    for i, result in enumerate(results, 1):
        metadata = result.get("metadata") or {}
        executive = metadata.get("executive_name", metadata.get("speaker", "Unknown"))
        role = metadata.get("executive_role", "Unknown Role")
        category = metadata.get("category", "Unknown Category")
        date = (metadata.get("date") or "")[:10]
        quarter = metadata.get("quarter", "")
        fiscal_year = metadata.get("fiscal_year", "")
        days_ago = result["days_ago"]
        content = result["content"]

        if days_ago < 30:
            time_context = "🟢 Recent"
        elif days_ago < 365:
            time_context = "🟡 This Year"
        elif days_ago < 730:
            time_context = "🟠 Last Year"
        else:
            time_context = "🔴 Older"

        formatted.append(
            f"""
🏢 Result {i} - {result['company']} (Score: {result['weighted_score']:.3f}, Similarity: {result['similarity']:.3f})
👤 {executive} ({role})
📂 Category: {category}
📅 {time_context} {date} {quarter} {fiscal_year} ({days_ago} days ago)
💬 Content: {content[:200]}{'...' if len(content) > 200 else ''}
{'-' * 80}"""
        )
    return "\n".join(formatted)
