def quote_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier (embedded backticks
    doubled), for column names pasted into SQL text."""
    return "`" + name.replace("`", "``") + "`"
