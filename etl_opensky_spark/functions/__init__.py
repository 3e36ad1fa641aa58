"""Scalar/column function library (SURVEY §2.11) + training-data ops."""
