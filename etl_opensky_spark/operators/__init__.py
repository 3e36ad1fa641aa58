"""Composable DataFrame -> DataFrame operators (SURVEY.md §2 inventory)."""
